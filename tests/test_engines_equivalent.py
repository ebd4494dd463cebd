"""The derive engine against the pure-Python oracle (the reference spec):
per-turn text, nodes and triples must be exactly equal on every input
(duplicates, hot-conversation skew, dirty text); the sharded skew path must
be bit-identical to the single-task kernel."""

from __future__ import annotations

from open_source_legislation_spark import oracle, schemas, synth
from open_source_legislation_spark.plans.pipeline import run_pipeline

_COLS = [
    "conv_id",
    "turn_idx",
    "ord",
    "clean_text",
    "node_id",
    "node_raw_id",
    "node_parent",
    "level_classifier",
    "node_name",
    "node_status",
    "current_node",
    "in_defs_scope",
]
_TURN_COLS = ["conv_id", "turn_idx", "clean_text"]
_NODE_COLS = ["node_id", "level_classifier", "parent", "status"]
_TRIPLE_COLS = ["subj", "pred", "obj"]


def _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf):
    """Exact equality with the oracle on per-turn ``(conv_id, turn_idx,
    clean_text)``, nodes ``(node_id, level_classifier, parent, status)`` and
    the ``(subj, pred, obj)`` triple set."""
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    res = run_pipeline(spark, tdf, entity_dict_df)
    try:
        turns = [tuple(r) for r in res.turns.select(*_TURN_COLS).collect()]
        nodes = {tuple(r) for r in res.nodes.select(*_NODE_COLS).collect()}
        triples = {tuple(r) for r in res.triples.select(*_TRIPLE_COLS).collect()}
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


def test_engines_equivalent_base(spark, entity_dict_df, entity_dict_pd):
    pdf = synth.make_transcripts(seed=13, n_turns_target=900)
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf)


def test_engines_equivalent_skewed_dups(spark, entity_dict_df, entity_dict_pd):
    pdf = synth.make_transcripts(
        seed=99, n_turns_target=1500, hot_fraction=0.35, dup_fraction=0.08
    )
    _assert_matches_oracle(spark, entity_dict_df, entity_dict_pd, pdf)


def test_sharded_engine_equivalent_on_giant_conv(spark, entity_dict_df):
    """One conversation ≫ shard size: the (conv_id, turn_range) sharded
    engine — shards in different tasks, boundary state (stack, id counts,
    open node, defs scope, ordinals) stitched across rounds — must be
    bit-identical to the single-task kernel."""
    from open_source_legislation_spark.operators import extract

    # 45% of all turns in one conversation, duplicates included, with a
    # shard size small enough that the hot conv spans many shards AND tiny
    # Arrow batches so shards also span batch boundaries internally
    pdf = synth.make_transcripts(
        seed=31, n_turns_target=1200, hot_fraction=0.45, dup_fraction=0.06
    )
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        base = set(
            map(
                tuple,
                extract.derive_nodes_stream(tdf, num_partitions=4)
                .select(*_COLS)
                .collect(),
            )
        )
        sharded_df, round_caches = extract.derive_nodes_sharded(
            tdf, shard_turns=60, num_partitions=4
        )
        sharded = set(map(tuple, sharded_df.select(*_COLS).collect()))
        assert len(round_caches) >= 2  # one cache per round, caller-owned
        for cached in round_caches:
            cached.unpersist()
    finally:
        spark.conf.set(key, old)
    assert sharded == base
    # the giant conv really was split: >1 turn-range bucket existed
    hot = pdf.groupby("conv_id").size().idxmax()
    assert pdf[pdf.conv_id == hot].turn_idx.max() >= 120
    # no sentinel rows leak into the output
    assert not any(r[4] == extract._SHARD_STATE for r in sharded)


def test_sharded_engine_noop_below_knob(spark, entity_dict_df):
    """No conversation reaches the knob → identical plan path (falls back
    to the single-pass engine), identical output."""
    from open_source_legislation_spark.operators import extract

    pdf = synth.make_transcripts(seed=5, n_turns_target=400)
    tdf = spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS)
    base = set(
        map(tuple, extract.derive_nodes_stream(tdf).select(*_COLS).collect())
    )
    sharded_df, round_caches = extract.derive_nodes_sharded(
        tdf, shard_turns=10_000_000
    )
    assert round_caches == []
    sharded = set(map(tuple, sharded_df.select(*_COLS).collect()))
    assert sharded == base


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
