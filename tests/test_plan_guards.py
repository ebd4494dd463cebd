"""Registry-wide physical-plan guards.

Two anti-patterns kill 100 TB scale and are invisible to value-level
checks: an accidental CartesianProduct (a join predicate that stopped
being an equi-join) and a row-at-a-time Python UDF (BatchEvalPython)
slipping into a hot path. This test builds the physical plan of EVERY
registered contract query at sf0.001 and asserts neither appears —
so a future edit that degrades a plan fails CI even while its values
stay correct.
"""

from __future__ import annotations

import os

import pytest

from open_source_legislation_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Queries with side effects at construction time (streams run to
# completion, sinks write) — their plans are covered by their own
# operator tests; executing them all here would triple the suite's wall.
_SIDE_EFFECTING = {
    "stream_sessionize",
    "stream_window_agg",
    "stream_dedup",
    "snk_parquet_roundtrip",
    "snk_upsert_merge",
    "snk_snapshot_travel",
    "src_toc_file",
    "sim_ivf_build",  # k-means train collects centroids while building
}

# The documents corpus is tiny at sf0.001; AQE may broadcast either side —
# both fine. What must NEVER appear:
_FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/region.parquet"), reason="driver testdata absent"
)
def test_no_cartesian_or_row_python_in_any_registered_plan(spark):
    bad: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        if name in _SIDE_EFFECTING:
            continue
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [pat for pat in _FORBIDDEN if pat in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"scale anti-patterns in plans: {bad}"


_PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas"}


def _executed_nodes(df) -> list:
    """Run ``df`` and list the physical nodes of its executed plan,
    descending through the adaptive plan and its query stages (a reused
    exchange is a leaf, so each exchange counts once)."""
    df.collect()
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        found.append(p)
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def _python_nodes(df) -> list[str]:
    """Name the Python-crossing nodes of ``df``'s executed plan."""
    return [
        p.nodeName() for p in _executed_nodes(df) if p.nodeName() in _PYTHON_NODES
    ]


def test_kg_pipeline_has_no_python_after_the_spill(
    spark, transcripts_df, entity_dict_df
):
    """The headline path crosses into Python only before the spill and in
    the nodes enrichment: the triples plan is JVM-only and the nodes plan
    runs exactly one Arrow UDF (``enrich.node_enrich_udf``)."""
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts_df, entity_dict_df)
    try:
        assert _python_nodes(res.triples) == []
        assert _python_nodes(res.nodes) == ["ArrowEvalPython"]
    finally:
        res.cleanup()


def test_kg_plans_run_no_jvm_regex_twin(spark, transcripts_df, entity_dict_df):
    """The linking rungs and the node citation come from the Arrow kernels
    that run the ``rules`` spec (``extract.ladder_rungs``,
    ``rules.node_citation`` in the state pass), so neither output plan
    re-derives them with ``regexp_extract``: a JVM copy of a rule would
    need its own test to stay equal to the spec."""
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts_df, entity_dict_df)
    try:
        for name in ("triples", "nodes"):
            df = getattr(res, name)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "regexp_extract" not in plan, name
    finally:
        res.cleanup()


def test_nodes_plan_builds_each_node_fact_once(spark, transcripts_df, entity_dict_df):
    """A node's addendum and its peeled text come from ONE aggregate over
    its content turns (``extract.node_text_agg``): no second addenda
    aggregate, no peel join, no two-phase text aggregate; and the
    conversation roots come from each conversation's first turn, not a
    distinct over ``conv_id``. Pins the shuffle exchanges and aggregate
    operators of the executed ``nodes`` plan."""
    from collections import Counter

    from open_source_legislation_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts_df, entity_dict_df)
    try:
        kinds = Counter(p.getClass().getSimpleName() for p in _executed_nodes(res.nodes))
    finally:
        res.cleanup()
    aggregates = sum(n for k, n in kinds.items() if k.endswith("AggregateExec"))
    assert (kinds["ShuffleExchangeExec"], aggregates) == (4, 9), kinds


def test_repeated_kg_build_compiles_no_new_code(spark, transcripts_df, entity_dict_df):
    """A rebuild in the same session hits the codegen cache, so the second
    build compiles none. Two session defaults make that hold: the cache
    holds a whole build's generated classes (with Spark's default of 100
    entries the ~100 classes of one build evict each other and every
    rebuild re-compiles dozens), and class names leave out the codegen
    stage id (AQE numbers stages in the order they finish, so a renamed
    copy of a cached class would miss)."""
    from open_source_legislation_spark.plans.pipeline import run_pipeline

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # Janino compilations in this JVM; a codegen cache hit adds none
    compiles = codegen.METRIC_COMPILATION_TIME()

    def build() -> int:
        before = compiles.getCount()
        res = run_pipeline(spark, transcripts_df, entity_dict_df)
        try:
            for df in (res.triples, res.nodes):
                df.write.format("noop").mode("overwrite").save()
        finally:
            res.cleanup()
        return compiles.getCount() - before

    build()
    assert build() == 0


def test_dedup_shingles_once_and_counts_each_set_once(spark):
    """Each dedup query explodes its shingles under one exchange by
    ``doc_id`` that its branches reuse, and counts a doc's set where it
    already groups the shingles (the prefix window, the MinHash signature
    aggregate): the verifier holds no size aggregate. Both sides of the
    MinHash band self-join reuse one exchange, so its signatures and band
    explode run once. Pins the ``Generate`` and ``HashAggregate`` nodes of
    the executed plans of ``ngram_jaccard_pairs`` and ``minhash_lsh_pairs``."""
    from collections import Counter

    from open_source_legislation_spark.operators import dedup

    words = "the a key agg row scan slow fast table value part hash merge".split()
    docs = spark.createDataFrame(
        [(i, " ".join(words[i % 7 :] + words[: i % 7] * (i % 3))) for i in range(60)],
        schema="doc_id long, text string",
    )
    counts = {}
    for name, df in (
        ("ngram", dedup.ngram_jaccard_pairs(docs)),
        ("minhash", dedup.minhash_lsh_pairs(docs)),
    ):
        kinds = Counter(p.getClass().getSimpleName() for p in _executed_nodes(df))
        counts[name] = (kinds["GenerateExec"], kinds["HashAggregateExec"])
    # with a shingle explode per branch and a size aggregate in the
    # verifier the plans held (5, 8) and (6, 9); with the signatures and
    # band explode on each side of the band join, MinHash held (3, 8)
    assert counts == {"ngram": (1, 6), "minhash": (2, 6)}, counts
