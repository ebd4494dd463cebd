"""The derive engine against the pure-Python oracle (the reference spec):
per-turn text, nodes and triples must be exactly equal on every input
(duplicates, hot-conversation skew, dirty text)."""

from __future__ import annotations

from open_source_legislation_spark import oracle, schemas, synth
from open_source_legislation_spark.plans.pipeline import run_pipeline

_TURN_COLS = ["conv_id", "turn_idx", "clean_text"]
_NODE_COLS = ["node_id", "level_classifier", "parent", "status"]
_TRIPLE_COLS = ["subj", "pred", "obj"]


def _assert_matches_oracle(
    spark, entity_dict_df, entity_dict_pd, pdf, dataset_caches
):
    """Exact equality with the oracle on per-turn ``(conv_id, turn_idx,
    clean_text)``, nodes ``(node_id, level_classifier, parent, status)`` and
    the ``(subj, pred, obj)`` triple set; consuming them leaves the caller
    no cache to release."""
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    before = dataset_caches()
    res = run_pipeline(spark, tdf, entity_dict_df)
    try:
        turns = [tuple(r) for r in res.turns.select(*_TURN_COLS).collect()]
        nodes = {tuple(r) for r in res.nodes.select(*_NODE_COLS).collect()}
        triples = {tuple(r) for r in res.triples.select(*_TRIPLE_COLS).collect()}
        assert dataset_caches() <= before
    finally:
        res.cleanup()
    o = oracle.run_oracle(pdf, entity_dict_pd)
    exp_turns = set(o["turns"][_TURN_COLS].itertuples(index=False, name=None))
    exp_nodes = {
        (n, lvl, None if par != par else par, st)  # NaN parent → None
        for n, lvl, par, st in o["nodes"][_NODE_COLS].itertuples(
            index=False, name=None
        )
    }
    exp_triples = set(o["triples"][_TRIPLE_COLS].itertuples(index=False, name=None))
    assert len(turns) == len(set(turns))  # one row per (conv_id, turn_idx)
    assert set(turns) == exp_turns
    assert nodes == exp_nodes
    assert triples == exp_triples
    assert triples  # non-empty


def test_engines_equivalent_base(
    spark, entity_dict_df, entity_dict_pd, dataset_caches
):
    pdf = synth.make_transcripts(seed=13, n_turns_target=900)
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf, dataset_caches)


def test_engines_equivalent_skewed_dups(
    spark, entity_dict_df, entity_dict_pd, dataset_caches
):
    pdf = synth.make_transcripts(
        seed=99, n_turns_target=1500, hot_fraction=0.35, dup_fraction=0.08
    )
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf, dataset_caches)


def test_giant_conv_matches_oracle_across_arrow_batches(
    spark, entity_dict_df, entity_dict_pd, dataset_caches
):
    """One conversation holds 45% of the turns (duplicates included) and the
    Arrow batches hold 64 rows, so one task walks the hot conversation
    across many batch boundaries: the carried state (stack, id counts, open
    node, defs scope, ordinals, dedup) must match the oracle exactly."""
    pdf = synth.make_transcripts(
        seed=31, n_turns_target=1200, hot_fraction=0.45, dup_fraction=0.06
    )
    hot = pdf.groupby("conv_id").size().max()
    assert hot > 4 * 64
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        _assert_matches_oracle(
            spark, entity_dict_df, entity_dict_pd, pdf, dataset_caches
        )
    finally:
        spark.conf.set(key, old)


def test_stream_engine_partitioning_invariant(spark, entity_dict_df):
    """Output must not depend on the partition count (state stitching across
    Arrow batches and partition boundaries)."""
    pdf = synth.make_transcripts(seed=5, n_turns_target=700)
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    # tiny Arrow batches force conversations to span batch boundaries inside
    # a partition — the kernel's cross-batch state carry must be exact
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        base = None
        for nparts in (1, 3, 16):
            res = run_pipeline(spark, tdf, entity_dict_df, num_partitions=nparts)
            got = set(
                map(tuple, res.triples.select("subj", "pred", "obj").collect())
            )
            res.cleanup()
            if base is None:
                base = got
            else:
                assert got == base, f"partition count {nparts} changed the output"
    finally:
        spark.conf.set(key, old)
