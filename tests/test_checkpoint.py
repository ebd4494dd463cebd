"""Kill-and-resume idempotence: a run killed at a partition boundary and
resumed must produce the identical final triple set (BASELINE.md
resumability target)."""

import pytest

from open_source_legislation_spark.plans.checkpoint import CheckpointedRunner


def _triples_set(runner):
    return set(
        map(tuple, runner.triples().select("subj", "pred", "obj").collect())
    )


def test_kill_and_resume_identical(
    spark, transcripts_df, entity_dict_df, tmp_path_factory
):
    # single-shot reference run
    ref_dir = str(tmp_path_factory.mktemp("ckpt_ref"))
    ref = CheckpointedRunner(spark, ref_dir, run_id="ref", num_buckets=4)
    assert ref.run(transcripts_df, entity_dict_df) == 4
    expected = _triples_set(ref)

    # killed run: dies after 2 buckets
    kill_dir = str(tmp_path_factory.mktemp("ckpt_kill"))
    killed = CheckpointedRunner(spark, kill_dir, run_id="r1", num_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        killed.run(transcripts_df, entity_dict_df, fail_after=2)
    assert len(killed.completed_buckets()) == 2

    # resume: only remaining buckets run; final tables identical
    resumed = CheckpointedRunner(spark, kill_dir, run_id="r2", num_buckets=4)
    assert resumed.run(transcripts_df, entity_dict_df) == 2
    assert _triples_set(resumed) == expected

    # second resume is a no-op (idempotence)
    assert resumed.run(transcripts_df, entity_dict_df) == 0


def test_resume_with_changed_bucket_count_refused(
    spark, transcripts_df, entity_dict_df, tmp_path_factory
):
    """A resume whose num_buckets differs from the materialized input's
    would treat every missing _bucket=b dir as legitimately empty and
    commit rows_in=0 — silent data loss. The meta sidecar must catch it."""
    out = str(tmp_path_factory.mktemp("ckpt_nb"))
    CheckpointedRunner(spark, out, run_id="a", num_buckets=2).run(
        transcripts_df, entity_dict_df
    )
    bad = CheckpointedRunner(spark, out, run_id="b", num_buckets=8)
    with pytest.raises(ValueError, match="num_buckets"):
        bad.run(transcripts_df, entity_dict_df)


def test_resume_with_different_input_refused(
    spark, transcripts_df, entity_dict_df, tmp_path_factory
):
    out = str(tmp_path_factory.mktemp("ckpt_in"))
    CheckpointedRunner(spark, out, run_id="a", num_buckets=2).run(
        transcripts_df, entity_dict_df
    )
    other = transcripts_df.limit(transcripts_df.count() // 2)
    again = CheckpointedRunner(spark, out, run_id="b", num_buckets=2)
    with pytest.raises(ValueError, match="different input"):
        again.run(other, entity_dict_df)


def test_resume_with_same_count_different_content_refused(
    spark, transcripts_df, entity_dict_df, tmp_path_factory
):
    """The stale-input guard must be a CONTENT fingerprint, not a row
    count: an out_dir re-pointed at equal-sized but different input is
    exactly the silent-stale-resume failure mode."""
    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("ckpt_cfp"))
    CheckpointedRunner(spark, out, run_id="a", num_buckets=2).run(
        transcripts_df, entity_dict_df
    )
    mutated = transcripts_df.withColumn(
        "text", F.concat(F.col("text"), F.lit(" CHANGED"))
    )
    again = CheckpointedRunner(spark, out, run_id="b", num_buckets=2)
    with pytest.raises(ValueError, match="different input"):
        again.run(mutated, entity_dict_df)


def test_metrics_ledger(spark, transcripts_df, entity_dict_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt_m"))
    runner = CheckpointedRunner(spark, out, run_id="m1", num_buckets=2)
    runner.run(transcripts_df, entity_dict_df)
    m = runner.metrics()
    names = {r["metric"] for r in m.select("metric").distinct().collect()}
    assert {"triples_emitted", "mentions_linked", "link_miss_rate", "wall_ms"} <= names
    # one row per (bucket, metric)
    assert m.count() == 2 * 4
    # every bucket committed lineage
    assert runner.completed_buckets() == {0, 1}


def test_fingerprint_not_blind_to_duplicate_pairs(spark):
    """SUM-combined fingerprint: swapping one duplicated row PAIR for a
    different duplicated pair must change the fingerprint (an XOR combine
    cancels even multiplicities and would pass both)."""
    a = spark.createDataFrame(
        [("c1", 0, "x"), ("c1", 0, "x"), ("c2", 1, "r")],
        "conv_id string, turn_idx int, text string",
    )
    b = spark.createDataFrame(
        [("c9", 0, "y"), ("c9", 0, "y"), ("c2", 1, "r")],
        "conv_id string, turn_idx int, text string",
    )
    fa = CheckpointedRunner._input_fingerprint(a)
    fb = CheckpointedRunner._input_fingerprint(b)
    assert fa["rows"] == fb["rows"] == 3
    assert fa["sum_crc32"] != fb["sum_crc32"]


def test_fingerprint_distinguishes_which_key_column_is_null(spark):
    """concat_ws silently drops NULL fields: without per-field sentinels,
    (NULL, 5, t) and ('5', NULL, t) would hash identically and the
    stale-input guard could false-pass."""
    a = spark.createDataFrame(
        [(None, 5, "t")], "conv_id string, turn_idx int, text string"
    )
    b = spark.createDataFrame(
        [("5", None, "t")], "conv_id string, turn_idx int, text string"
    )
    fa = CheckpointedRunner._input_fingerprint(a)
    fb = CheckpointedRunner._input_fingerprint(b)
    assert fa["rows"] == fb["rows"] == 1
    assert fa["sum_crc32"] != fb["sum_crc32"]


def test_fingerprint_distinguishes_null_text_from_empty(spark):
    """The text column needs its own NULL sentinel too: coalescing to ''
    made ('c', 1, NULL) and ('c', 1, '') fingerprint-identical, so a
    resume could false-pass over input differing only there."""
    a = spark.createDataFrame(
        [("c", 1, None)], "conv_id string, turn_idx int, text string"
    )
    b = spark.createDataFrame(
        [("c", 1, "")], "conv_id string, turn_idx int, text string"
    )
    fa = CheckpointedRunner._input_fingerprint(a)
    fb = CheckpointedRunner._input_fingerprint(b)
    assert fa["rows"] == fb["rows"] == 1
    assert fa["sum_crc32"] != fb["sum_crc32"]


def test_empty_input_commits_empty_buckets(spark, entity_dict_df, tmp_path_factory):
    """An empty landing lands nothing, and an empty batch build commits
    every bucket as an empty success, from a local relation and from a
    parquet scan alike."""
    import json

    from open_source_legislation_spark import schemas

    empty = spark.createDataFrame([], schema=schemas.TRANSCRIPTS)
    scanned = str(tmp_path_factory.mktemp("ckpt_empty_src"))
    empty.write.mode("overwrite").parquet(scanned)
    for source in (empty, spark.read.schema(schemas.TRANSCRIPTS).parquet(scanned)):
        landing = CheckpointedRunner(
            spark, str(tmp_path_factory.mktemp("ckpt_empty_land")), "l", num_buckets=4
        )
        assert landing.land(source, 0) == []

        runner = CheckpointedRunner(
            spark, str(tmp_path_factory.mktemp("ckpt_empty")), "e", num_buckets=4
        )
        assert runner.run(source, entity_dict_df) == 4
        with open(runner._manifest_path()) as fh:
            rows = [json.loads(line) for line in fh]
        assert sorted(r["partition_id"] for r in rows) == [0, 1, 2, 3]
        assert {(r["status"], r["rows_in"], r["rows_out"]) for r in rows} == {
            ("success", 0, 0)
        }
        assert runner.run(source, entity_dict_df) == 0


def test_bucket_pools_do_not_outlive_the_run(
    spark, transcripts_df, entity_dict_df, tmp_path_factory
):
    """Each bucket runs in its own scheduler pool; once the runner returns,
    or raises, the calling thread is back in the pool it started in."""
    sc = spark.sparkContext
    small = transcripts_df.filter(
        "conv_id IN ('conv-000004', 'conv-000012', 'conv-000013')"
    )
    out = str(tmp_path_factory.mktemp("ckpt_pool"))
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    runner = CheckpointedRunner(spark, out, run_id="a", num_buckets=2)
    runner.run(small, entity_dict_df, max_concurrency=1)
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    sc.setLocalProperty("spark.scheduler.pool", "caller")
    try:
        killed = CheckpointedRunner(
            spark, str(tmp_path_factory.mktemp("ckpt_pool_kill")), "b", num_buckets=2
        )
        with pytest.raises(RuntimeError, match="injected failure"):
            killed.run(small, entity_dict_df, fail_after=1)
        assert sc.getLocalProperty("spark.scheduler.pool") == "caller"
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
