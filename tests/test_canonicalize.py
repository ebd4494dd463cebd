"""Connected-components canonicalization: chains, cycles, determinism —
must agree with the oracle's union-find exactly."""

from open_source_legislation_spark import oracle
from open_source_legislation_spark.operators import canonicalize


def test_cc_matches_union_find(spark, alias_edges_df, alias_edges_pd):
    got = {
        r["member"]: r["canonical"]
        for r in canonicalize.connected_components(alias_edges_df).collect()
    }
    exp = oracle.connected_components(alias_edges_pd)
    assert got == exp


def test_cc_handles_chain_and_cycle(spark):
    edges = spark.createDataFrame(
        [("b", "a", "x"), ("c", "b", "x"), ("d", "c", "x"),  # chain d->c->b->a
         ("p", "q", "x"), ("q", "r", "x"), ("r", "p", "x")],  # cycle
        "src string, dst string, reason string",
    )
    labels = {
        r["member"]: r["canonical"]
        for r in canonicalize.connected_components(edges).collect()
    }
    assert {labels[v] for v in "abcd"} == {"a"}
    assert {labels[v] for v in "pqr"} == {"p"}


def test_cc_converges_on_deep_chains(spark):
    """Regression: pure min-label propagation moves labels one hop per
    round, so a component whose diameter exceeds MAX_ITERATIONS used to
    return silently WRONG labels (60-chain → 34 bad). The pointer-jump
    round makes convergence logarithmic — a 200-chain must label fully."""
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(199)],
        "src string, dst string",
    )
    labels = {
        r["member"]: r["canonical"]
        for r in canonicalize.connected_components(edges).collect()
    }
    assert len(labels) == 200
    assert set(labels.values()) == {"n000"}


def test_alias_of_triples_exclude_canonical(spark, alias_edges_df):
    labels = canonicalize.connected_components(alias_edges_df)
    triples = canonicalize.alias_of_triples(labels)
    assert triples.filter("subj = obj").count() == 0
    assert triples.count() == labels.count() - labels.select("canonical").distinct().count()

