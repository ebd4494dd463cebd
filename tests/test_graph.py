"""Graph materialization + the reference's SQL invariants
(reference CLAUDE.md:437-452) as DataFrame assertions."""

import pytest
from pyspark.sql import functions as F

from open_source_legislation_spark.operators import extract, graph
from open_source_legislation_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark, transcripts_df, entity_dict_df):
    return run_pipeline(spark, transcripts_df, entity_dict_df)


def test_no_orphans(result):
    assert graph.orphan_nodes(result.nodes).count() == 0


def test_null_parent_only_roots(result):
    assert graph.null_parent_violations(result.nodes).count() == 0
    roots = result.nodes.filter(F.col("parent").isNull())
    assert roots.count() == result.nodes.select("conv_id").distinct().count()


def test_counts_by_level_distribution(result):
    counts = {r["level_classifier"]: r["n"] for r in graph.counts_by_level(result.nodes).collect()}
    assert counts.get("conv", 0) > 0
    assert counts.get("section", 0) > 0
    assert counts.get("chapter", 0) > 0


def test_children_are_ordered_and_complete(result):
    ch = graph.children_agg(result.nodes)
    n_edges = result.nodes.filter(F.col("parent").isNotNull()).count()
    total_children = ch.select(
        F.sum(F.size("direct_children")).alias("s")
    ).collect()[0]["s"]
    assert total_children == n_edges


def test_siblings_exclude_self(result):
    sib = graph.siblings_agg(result.nodes)
    bad = sib.filter(F.array_contains("siblings", F.col("node_id"))).count()
    assert bad == 0


def test_edges_rel_vocabulary(result):
    rels = {r["rel"] for r in result.edges.select("rel").distinct().collect()}
    assert rels == {"child_of", "cites"}


def test_incoming_references_reverse_edges(result):
    inc = graph.incoming_references(result.edges)
    n_cites = result.edges.filter("rel = 'cites'").select("src", "dst").distinct().count()
    total = inc.select(F.sum(F.size("incoming_references"))).collect()[0][0]
    assert total == n_cites


def test_status_values(result):
    statuses = {r["status"] for r in result.nodes.select("status").distinct().collect()}
    assert statuses <= {"valid", "reserved", "repealed", "renumbered"}
    assert "reserved" in statuses  # synth injects [Reserved] sections


def test_version_suffix_determinism(spark, entity_dict_df):
    """Same section heading twice in one conv → second gets -v_2
    (reference scrapingHelpers.py:61-115)."""
    rows = [
        ("c1", 0, "user", "Section 1.1 First", None),
        ("c1", 1, "user", "Section 1.1 Second time", None),
        ("c1", 2, "user", "Section 1.1 Third time", None),
    ]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["ts"] = pd.Timestamp("2026-01-01")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    from open_source_legislation_spark import schemas

    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    derived = extract.derive_nodes_stream(tdf)
    ids = [r["node_id"] for r in derived.orderBy("turn_idx").collect()]
    assert ids == [
        "conv=c1/section=1.1",
        "conv=c1/section=1.1-v_2",
        "conv=c1/section=1.1-v_3",
    ]


def test_pagerank_int_exact_and_hub_ranked(spark):
    from open_source_legislation_spark.operators import graph

    # star: everyone points at 0, plus a 1->2 edge; 0 must out-rank all
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (1, 2)], "src long, dst long"
    )
    got = {r.node: r.rank for r in graph.pagerank_int(edges, iters=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[0] == max(got.values())
    assert got[2] > got[1]            # 2 has an in-edge, 1 has none
    assert got[1] == got[3] == got[4] == 150_000  # no in-edges -> hold mass
    # exact integer determinism: same values under a different partitioning
    again = {
        r.node: r.rank
        for r in graph.pagerank_int(edges.repartition(7), iters=3).collect()
    }
    assert got == again
    # self-loops and duplicate edges are ignored
    noisy = spark.createDataFrame(
        [(1, 0), (1, 0), (0, 0), (2, 0), (3, 0), (4, 0), (1, 2)],
        "src long, dst long",
    )
    assert {r.node: r.rank for r in graph.pagerank_int(noisy, iters=3).collect()} == got


def test_triangle_counts_match_bruteforce(spark):
    from itertools import combinations
    import random

    from open_source_legislation_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    edges = {(rng.randrange(20), rng.randrange(20)) for _ in range(120)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = {x for p in und for x in p}
    brute = {n: 0 for n in nodes}
    for a, b, c in combinations(sorted(nodes), 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            for x in (a, b, c):
                brute[x] += 1
    assert got == brute


def test_label_propagation_matches_bruteforce(spark):
    from collections import Counter
    import random

    from open_source_legislation_spark.operators.graph import label_propagation

    rng = random.Random(11)
    edges = {(rng.randrange(15), rng.randrange(15)) for _ in range(40)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.label for r in label_propagation(e, iters=2).collect()}
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(2):
        lab = {
            n: max(
                Counter(lab[m] for m in adj[n]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for n in adj
        }
    assert got == lab


def test_graph_analytics_empty_edges(spark):
    """PageRank, triangles, and LPA all degrade to empty results on an
    empty edge set — no crash, stable schemas."""
    from open_source_legislation_spark.operators.graph import (
        label_propagation,
        pagerank_int,
        triangle_counts,
    )

    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank_int(e, iters=1).count() == 0
    tri = triangle_counts(e)
    assert tri.count() == 0
    assert tri.columns == ["node", "n_triangles"]
    assert label_propagation(e, iters=1).count() == 0


def test_bfs_distances_match_bruteforce(spark):
    import random
    from collections import deque

    from open_source_legislation_spark.operators.graph import bfs_distances

    rng = random.Random(3)
    edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(70)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=3).collect()}
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    dist = {0: 0, 1: 0}
    q = deque([(0, 0), (1, 0)])
    while q:
        n, d = q.popleft()
        if d >= 3:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = d + 1
                q.append((m, d + 1))
    assert got == dist


def _ring_edges(spark, n=30):
    return spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 7) % n) for i in range(n)],
        "src long, dst long",
    )


def _unpersist(df):
    for h in getattr(df, "_osl_persists", []):
        h.unpersist()


def test_iterative_loops_lineage_bounded_at_high_iters(spark):
    """The iters=25 regime: with the default persist_every the evolving
    frame's plan is truncated every k iterations, so plan size stays
    BOUNDED instead of stacking 25 join/agg subtrees (the iterative-
    DataFrame failure mode at scale) — and the results are identical to
    the pure single-lineage plan."""
    e = _ring_edges(spark)

    def plan_len(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    deep = graph.pagerank_int(e, iters=25, persist_every=None)
    knob = graph.pagerank_int(e, iters=25, persist_every=5)
    assert plan_len(knob) < plan_len(deep) / 2
    assert sorted(map(tuple, knob.collect())) == sorted(map(tuple, deep.collect()))
    _unpersist(knob)

    deep_l = graph.label_propagation(e, iters=25, persist_every=None)
    knob_l = graph.label_propagation(e, iters=25, persist_every=5)
    assert plan_len(knob_l) < plan_len(deep_l) / 2
    assert sorted(map(tuple, knob_l.collect())) == sorted(map(tuple, deep_l.collect()))
    _unpersist(knob_l)

    # BFS's un-truncated plan is the worst of the three: settled embeds
    # frontier embeds settled, so the TREE (not DAG) size grows ~2.4^hops
    # — at 12 hops even .toString() of the deep plan OOMs the JVM, which
    # is the failure mode itself. Compare deep-vs-knob at 8 hops where
    # the deep tree is still tractable, then pin the knob's correctness
    # at 12 hops against plain brute force.
    seeds = spark.createDataFrame([(0,)], "node long")
    deep_b = graph.bfs_distances(e, seeds, max_hops=8, persist_every=None)
    knob_b = graph.bfs_distances(e, seeds, max_hops=8, persist_every=3)
    assert plan_len(knob_b) < plan_len(deep_b)
    assert sorted(map(tuple, knob_b.collect())) == sorted(map(tuple, deep_b.collect()))
    _unpersist(knob_b)

    knob12 = graph.bfs_distances(e, seeds, max_hops=12, persist_every=4)
    got12 = {r["node"]: r["dist"] for r in knob12.collect()}
    _unpersist(knob12)
    adj = {}
    for r in e.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    dist, q = {0: 0}, [(0, 0)]
    while q:
        n, d = q.pop(0)
        if d >= 12:
            continue
        for m in adj.get(n, []):
            if m not in dist:
                dist[m] = d + 1
                q.append((m, d + 1))
    assert got12 == dist


def test_iterative_loops_persist_every_validation(spark):
    e = _ring_edges(spark)
    with pytest.raises(ValueError, match="persist_every"):
        graph.pagerank_int(e, persist_every=0)
    with pytest.raises(ValueError, match="persist_every"):
        graph.label_propagation(e, persist_every=0)
    with pytest.raises(ValueError, match="persist_every"):
        graph.bfs_distances(e, e.select(F.col("src").alias("node")), persist_every=-1)
