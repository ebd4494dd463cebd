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

# Iterations between lineage truncations (see _truncate_lineage); BFS
# cuts twice as often (see bfs_distances).
_TRUNCATE_EVERY = 8
_BFS_TRUNCATE_EVERY = 4


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
    the lost partitions. The caller holds no handle to them, and
    ``unpersist()`` on the returned frame does not release them: Spark's
    ContextCleaner does, once the frame is unreferenced and both a Python
    ``gc`` and a JVM GC have collected it. Spark bounds that delay
    nowhere: on 4 vCPUs, with both collectors run every 0.5 s after the
    frame was dropped, the blocks left ``SparkContext.getPersistentRDDs()``
    after 1.4-16.4 s; with one run of each they were still listed 30 s
    later."""
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


def siblings_agg(children: DataFrame) -> DataFrame:
    """node → ordered siblings (nodes sharing a parent, self removed —
    reference CLAUDE.md:535)."""
    # ``children`` is the children_agg output: a node's siblings are its
    # parent's children minus itself, so exploding each child list gives
    # them with no second aggregate or join
    return children.select(
        F.explode("direct_children").alias("node_id"), "direct_children"
    ).select(
        "node_id",
        F.array_remove("direct_children", F.col("node_id")).alias("siblings"),
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
    """Nodes whose parent id does not exist — the left-anti orphan check,
    contract-checked as ``join_orphan_anti``."""
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
    """Node count per ``level_classifier`` (reference CLAUDE.md:438), sorted
    by classifier — contract-checked as ``agg_count_by_level``."""
    return nodes.groupBy("level_classifier").agg(F.count("*").alias("n")).orderBy(
        "level_classifier"
    )


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    base: int = 1_000_000,
    damping_ppm: int = 850_000,
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

    Lineage control: the evolving ``ranks`` frame is lineage-truncated
    every 8 iterations (see :func:`_truncate_lineage`), so a long loop's
    plan stays bounded. Nothing is cached: a short loop (every production
    caller runs 2-3 iterations) keeps one pure plan, and the result hands
    its caller nothing to release.

    Output: ``(node, rank)`` with rank after ``iters`` iterations.
    """
    e = (
        edges.select(F.col("src"), F.col("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
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
        if (it + 1) % _TRUNCATE_EVERY == 0 and it + 1 < iters:
            ranks = _truncate_lineage(ranks)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over the undirected graph: out-
    neighbour set intersection (HERO, SIGMOD 2024) over the degree-ordered
    orientation of compact-forward.

    1. canonicalize to undirected distinct edges (u < v, no self-loops);
    2. orient every edge ``x → y`` from its LOWER-(degree, id) endpoint to
       the higher — a hub keeps only its higher-ranked neighbours as
       out-edges, so out-lists stay short under power-law skew;
    3. pair every oriented edge with the out-lists ``out(x)`` and, by a
       left join, ``out(y)`` (empty if y has none): ``c = out(x) ∩ out(y)``
       is the third corner of exactly the triangles whose two lowest-ranked
       corners are x and y, so each triangle is found once, with no wedges;
    4. per node, sum ``|c|`` to x and to y and 1 to each element of c; every
       node is an endpoint of an oriented edge, so zero-triangle nodes get 0.

    Nothing is cached or handed over. Output: ``(node, n_triangles: bigint)``.
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
    adj = o.groupBy("x").agg(F.collect_list("y").alias("out"))
    no_out = F.array().cast(adj.schema["out"].dataType)
    c = F.array_intersect("out_x", F.coalesce("out_y", no_out)).alias("c")
    # |c| to x and to y, 1 to each third corner in c
    credits = F.expr(
        "concat(array(struct(x AS node, size(c) AS n),"
        " struct(y AS node, size(c) AS n)),"
        " transform(c, z -> struct(z AS node, 1 AS n)))"
    )
    return (
        o.join(adj.withColumnRenamed("out", "out_x"), "x")
        .join(adj.toDF("y", "out_y"), "y", "left")
        .select("x", "y", c)
        .select(F.inline(credits))
        .groupBy("node")
        .agg(F.sum("n").alias("n_triangles"))
    )


def label_propagation(edges: DataFrame, iters: int = 2) -> DataFrame:
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

    Lineage control (same contract as :func:`pagerank_int`): the
    evolving ``labels`` frame is lineage-truncated every 8 iterations;
    nothing is cached.

    Output: ``(node, label: bigint)`` after ``iters`` iterations.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
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
        if (it + 1) % _TRUNCATE_EVERY == 0 and it + 1 < iters:
            labels = _truncate_lineage(labels)
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
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

    Lineage control (as in :func:`pagerank_int`, but every 4 hops): the
    evolving ``settled``/``frontier`` frames are lineage-truncated, since
    ``settled`` embeds ``frontier``, which embeds ``settled``, so the
    plan tree grows ~2.4x per hop between cuts (at interval 8, a 12-hop
    walk over the ``graph_bfs_khop`` edges at sf0.1 ran the JVM out of
    heap at its first cut). Nothing is cached.

    ``sources``: DataFrame with a ``node`` column. Output: ``(node,
    dist: int)`` for every node within ``max_hops`` (seeds at 0).
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
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
        if h % _BFS_TRUNCATE_EVERY == 0 and h < max_hops:
            settled = _truncate_lineage(settled)
            frontier = _truncate_lineage(frontier)
    return settled.select("node", F.col("dist").cast("int").alias("dist"))
