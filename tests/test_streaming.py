"""Structured-Streaming incremental front-end: every AvailableNow pass
lands its rows and re-derives the conversation buckets they touch, so the
outputs equal the batch build over every row landed so far, however the
rows are split across passes; a second pass over the same files is a
no-op, and a batch replayed after a lost commit does not land twice."""

import hashlib
import os

import pytest

from open_source_legislation_spark import schemas, synth
from open_source_legislation_spark.plans.checkpoint import CheckpointedRunner
from open_source_legislation_spark.plans.pipeline import run_pipeline
from open_source_legislation_spark.streaming.incremental import incremental_extract

_HOT = "conv-hot-0"
# "Title 21. ..." at turn 3 parents "Section 1.1" at turn 4
_PARENT_TURN = 3


def _two_pass(t):
    """Each conversation's first half, then the rest."""
    by_conv = t.groupby("conv_id")["turn_idx"]
    first = by_conv.rank(method="first") <= by_conv.transform("size") // 2
    return [t[first], t[~first]]


def _late_parent_heading(t):
    late = (t["conv_id"] == _HOT) & (t["turn_idx"] == _PARENT_TURN)
    return [t[~late], t[late]]


def _same_key_other_text(t):
    """A replay of the parent heading's (conv_id, turn_idx, ts) with other
    heading text that sorts first by md5(text): the batch build keeps it."""
    row = t[(t["conv_id"] == _HOT) & (t["turn_idx"] == _PARENT_TURN)].copy()
    old = row["text"].iloc[0]
    new = old.replace("Title 21.", "Title 22.")
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert new != old and md5(new) < md5(old)
    row["text"] = new
    return [t, row]


@pytest.mark.parametrize(
    "split, batch_first",
    [
        (_two_pass, False),
        (_late_parent_heading, False),
        (_same_key_other_text, False),
        (_two_pass, True),
    ],
    ids=["two_pass", "late_parent_heading", "same_key_other_text", "batch_then_stream"],
)
def test_passes_equal_batch_build(
    spark, entity_dict_df, tmp_path_factory, split, batch_first
):
    """Rows split across AvailableNow passes: the streamed triples equal
    ``run_pipeline`` over all rows and the streamed nodes equal a
    ``CheckpointedRunner`` build over them. With ``batch_first`` the first
    pass is a 4-bucket batch build into the same out_dir, and the stream
    must land in its recorded bucket count, not the default 8."""
    in_dir = str(tmp_path_factory.mktemp("split_in"))
    out_dir = str(tmp_path_factory.mktemp("split_out"))
    passes = [
        spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
        for rows in split(synth.make_transcripts(seed=3, n_turns_target=300))
    ]
    # nodes carry their bucket: the reference build uses the same count
    buckets = 4 if batch_first else None
    if batch_first:
        CheckpointedRunner(spark, out_dir, run_id="batch", num_buckets=buckets).run(
            passes[0], entity_dict_df
        )
    for df in passes[1:] if batch_first else passes:
        df.write.mode("append").parquet(in_dir)
        incremental_extract(spark, in_dir, entity_dict_df, out_dir)

    def same(a, b):
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    landed = spark.read.parquet(in_dir)
    if batch_first:
        landed = landed.unionByName(passes[0])
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    res = run_pipeline(spark, landed, entity_dict_df)
    try:
        same(
            spark.read.parquet(os.path.join(out_dir, "triples")).select(cols),
            res.triples.select(cols),
        )
    finally:
        res.cleanup()
    ref = CheckpointedRunner(
        spark, str(tmp_path_factory.mktemp("split_ref")), run_id="ref",
        num_buckets=buckets,
    )
    ref.run(landed, entity_dict_df)
    same(spark.read.parquet(os.path.join(out_dir, "nodes")), ref.nodes())


def test_batch_build_after_streamed_pass_refused(
    spark, entity_dict_df, tmp_path_factory
):
    """A batch build into an out_dir whose manifest already holds a
    stream's commits cannot tell which buckets are current: it must raise,
    not replace the streamed landing or skip the committed buckets."""
    in_dir = str(tmp_path_factory.mktemp("first_in"))
    out_dir = str(tmp_path_factory.mktemp("first_out"))
    t = spark.createDataFrame(
        synth.make_transcripts(seed=3, n_turns_target=300),
        schema=schemas.TRANSCRIPTS,
    )
    t.write.mode("overwrite").parquet(in_dir)
    incremental_extract(spark, in_dir, entity_dict_df, out_dir)
    runner = CheckpointedRunner(spark, out_dir, run_id="batch")
    with pytest.raises(ValueError, match="already holds committed buckets"):
        runner.run(t, entity_dict_df)


def test_available_now_incremental(spark, entity_dict_df, tmp_path_factory):
    in_dir = str(tmp_path_factory.mktemp("stream_in"))
    out_dir = str(tmp_path_factory.mktemp("stream_out"))
    t = synth.make_transcripts(seed=3, n_turns_target=300)
    spark.createDataFrame(t, schema=schemas.TRANSCRIPTS).write.mode(
        "overwrite"
    ).parquet(in_dir)
    # no trailing watermark-only batch, so the last batch is the data batch
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(no_data, "false")
    try:
        incremental_extract(spark, in_dir, entity_dict_df, out_dir)
        triples_dir = os.path.join(out_dir, "triples")
        n1 = spark.read.parquet(triples_dir).count()
        assert n1 > 0

        # one micro-batch holds every conversation: the batch build's rows
        cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
        streamed = spark.read.parquet(triples_dir).select(cols)
        res = run_pipeline(spark, spark.read.parquet(in_dir), entity_dict_df)
        try:
            batch = res.triples.select(cols)
            assert streamed.exceptAll(batch).count() == 0
            assert batch.exceptAll(streamed).count() == 0
        finally:
            res.cleanup()

        # second AvailableNow pass: no new files → no new rows
        incremental_extract(spark, in_dir, entity_dict_df, out_dir)
        assert spark.read.parquet(triples_dir).count() == n1

        # crash between the sink write and the commit log: the last batch
        # is replayed on restart and must replace its output, not land twice
        commits = os.path.join(out_dir, "_stream_checkpoint", "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        for name in (str(last), f".{last}.crc"):  # the entry and its checksum
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))
        incremental_extract(spark, in_dir, entity_dict_df, out_dir)
        assert spark.read.parquet(triples_dir).count() == n1
    finally:
        spark.conf.unset(no_data)


def test_tumbling_window_agg_emits_only_watermark_closed_windows(
    spark, tmp_path_factory
):
    """Append mode emits a window only once the final watermark (max event
    time − delay) passes its END: with events in two 1-day windows and the
    last event 30 minutes into day 2, a 1-hour watermark closes day 1 but
    NOT day 2 — day 2's rows stay in (evicted) state, never emitted."""
    import uuid

    from open_source_legislation_spark.streaming.incremental import (
        tumbling_window_agg,
    )

    in_dir = str(tmp_path_factory.mktemp("tw_in"))
    ck_dir = str(tmp_path_factory.mktemp("tw_ck"))
    rows = [
        (1, "2024-03-01 10:00:00", "a", 1.25),
        (2, "2024-03-01 23:30:00", "a", 2.50),
        (3, "2024-03-01 12:00:00", "b", 4.00),
        # max ts 02:00 → final watermark 01:00 ≥ day-1 window end (00:00):
        # day 1 closes; day 2's own window (ends 03-03) stays open
        (4, "2024-03-02 02:00:00", "a", 8.00),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value"
    ).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(in_dir)
    sink = f"tw_test_{uuid.uuid4().hex[:6]}"
    q = (
        tumbling_window_agg(stream, window="1 day", watermark="1 hour")
        .writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = {
        (str(r["wstart"]), r["event_type"]): (r["n_events"], r["cents"])
        for r in spark.table(sink).collect()
    }
    # day-1 windows emitted with exact integer cents; day-2 window absent
    assert out == {
        ("2024-03-01 00:00:00", "a"): (2, 375),
        ("2024-03-01 00:00:00", "b"): (1, 400),
    }
