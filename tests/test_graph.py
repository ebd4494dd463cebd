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
    sib = graph.siblings_agg(graph.children_agg(result.nodes))
    bad = sib.filter(F.array_contains("siblings", F.col("node_id"))).count()
    assert bad == 0
    # brute force: same parent, self removed, ordered by (turn_idx, node_id)
    rows = result.nodes.select("node_id", "parent", "turn_idx").collect()
    by_parent = {}
    for r in rows:
        if r["parent"] is not None:
            o = -1 if r["turn_idx"] is None else r["turn_idx"]
            by_parent.setdefault(r["parent"], []).append((o, r["node_id"]))
    expected = {
        r["node_id"]: [n for _, n in sorted(by_parent[r["parent"]]) if n != r["node_id"]]
        for r in rows
        if r["parent"] is not None
    }
    got = {r["node_id"]: list(r["siblings"]) for r in sib.collect()}
    assert got == expected
    assert any(got.values()), "fixture has no node with a sibling"


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


def _random_edges():
    import random

    rng = random.Random(7)
    return {(rng.randrange(20), rng.randrange(20)) for _ in range(120)}


_TRIANGLE_CASES = {
    "random": (_random_edges(), "src long, dst long"),
    # hub 100 joins every corner of the 5-clique 0..4 and ten leaves:
    # degree 15, so every hub edge points into it and its out-list is empty
    "hub_on_clique": (
        {(a, b) for a in range(5) for b in range(a + 1, 5)}
        | {(100, a) for a in range(5)}
        | {(100, leaf) for leaf in range(200, 210)},
        "src long, dst long",
    ),
    # self-loops, a duplicate and reversed edges on int columns
    "int_noisy": (
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (3, 3), (4, 4), (3, 4), (4, 1)],
        "src int, dst int",
    ),
    # node 9's only edge is a self-loop, so it is absent
    "self_loop_only": ([(1, 2), (2, 3), (1, 3), (9, 9)], "src long, dst long"),
}


def test_triangle_counts_match_bruteforce(spark):
    """One test over every regime the orientation and the empty out-list
    touch, each case named in its assertion messages."""
    from itertools import combinations

    from open_source_legislation_spark.operators.graph import triangle_counts

    for case, (edges, schema) in _TRIANGLE_CASES.items():
        e = spark.createDataFrame(list(edges), schema)
        persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
        tri = triangle_counts(e)
        got = {r.node: r.n_triangles for r in tri.collect()}
        # nothing cached, nothing handed over
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent, case
        assert not hasattr(tri, "_osl_persists"), case
        # node keeps the input's type (an empty out-list takes the adjacency's)
        assert tri.dtypes == [("node", e.dtypes[0][1]), ("n_triangles", "bigint")], case
        und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
        nodes = {x for p in und for x in p}
        brute = {n: 0 for n in nodes}
        for a, b, c in combinations(sorted(nodes), 3):
            if (a, b) in und and (b, c) in und and (a, c) in und:
                for x in (a, b, c):
                    brute[x] += 1
        assert got == brute, case


def _lpa_brute(edges, iters):
    from collections import Counter

    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(iters):
        lab = {
            n: max(
                Counter(lab[m] for m in adj[n]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for n in adj
        }
    return lab


def test_label_propagation_matches_bruteforce(spark):
    import random

    from open_source_legislation_spark.operators.graph import label_propagation

    rng = random.Random(11)
    edges = {(rng.randrange(15), rng.randrange(15)) for _ in range(40)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.label for r in label_propagation(e, iters=2).collect()}
    assert got == _lpa_brute(edges, 2)


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


def _bfs_brute(edges, hops, seeds=(0,)):
    from collections import deque

    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    q = deque((s, 0) for s in seeds)
    while q:
        n, d = q.popleft()
        if d >= hops:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = d + 1
                q.append((m, d + 1))
    return dist


def test_bfs_distances_match_bruteforce(spark):
    import random

    from open_source_legislation_spark.operators.graph import bfs_distances

    rng = random.Random(3)
    edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(70)}
    e = spark.createDataFrame(list(edges), "src long, dst long")
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=3).collect()}
    assert got == _bfs_brute(edges, 3, seeds=(0, 1))


def _pagerank_brute(edges, iters, base=1_000_000, damping=850_000):
    e = {p for p in edges if p[0] != p[1]}
    outdeg: dict = {}
    for a, _ in e:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {n: base for p in e for n in p}
    for _ in range(iters):
        incoming = dict.fromkeys(rank, 0)
        for a, b in e:
            incoming[b] += rank[a] // outdeg[a]
        rank = {n: base - damping + damping * incoming[n] // base for n in rank}
    return rank


def _ring_edges(n=30):
    """Two rings (+1, +7) with a few chords, so ranks and labels differ."""
    return (
        {(i, (i + 1) % n) for i in range(n)}
        | {(i, (i + 7) % n) for i in range(n)}
        | {(i, (i * i) % n) for i in range(0, n, 4)}
    )


def test_iterative_loops_lineage_bounded_at_high_iters(spark, dataset_caches):
    """Long loops: each loop truncates its lineage at a fixed interval (8
    iterations for PageRank and LPA, 4 hops for BFS), so at every length
    the plan is no larger than the plan at the loop's own interval — and
    the results match brute force. Nothing is cached and nothing is
    handed to the caller: collecting adds no persistent RDD other than
    the truncations' local checkpoints (freed by Spark's ContextCleaner)."""
    edges = _ring_edges()
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")

    def plan_len(df):
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    loops = {  # name: (run, truncation interval, lengths checked, brute force)
        "pagerank": (lambda n: graph.pagerank_int(e, iters=n), 8, (25,), _pagerank_brute),
        "lpa": (lambda n: graph.label_propagation(e, iters=n), 8, (25,), _lpa_brute),
        "bfs": (lambda n: graph.bfs_distances(e, seeds, max_hops=n), 4, (6, 8, 12), _bfs_brute),
    }
    for name, (run, interval, lengths, brute) in loops.items():
        cap = plan_len(run(interval))
        for n in lengths:
            case = f"{name} at {n}"
            before = dataset_caches()
            df = run(n)
            assert plan_len(df) <= cap, case
            got = {r[0]: r[1] for r in df.collect()}
            assert dataset_caches() <= before, case
            assert not hasattr(df, "_osl_persists"), case
            assert got == brute(edges, n), case
