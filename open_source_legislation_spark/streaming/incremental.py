"""Incremental ingestion — Structured Streaming front-end.

The reference's incremental behavior is the poll-until-empty resume loop
(reference ``3_process.py:22-29``). Here a file-source stream of transcript
rows runs under ``Trigger.AvailableNow`` (deterministic, terminating — the
streaming analog of "process until no pending rows", SURVEY §2.11).

Streaming and the batch checkpoint build share one engine,
:class:`CheckpointedRunner`: each micro-batch lands its rows through
:meth:`CheckpointedRunner.land`, the writer and layout a batch build lands
through, in the out_dir's recorded bucket count. The runner re-derives
every bucket the batch touched from all rows landed in it, overwriting that
bucket's ``triples`` and ``nodes`` partitions. So the outputs equal the
batch build over every row landed so far, in any arrival order and after a
batch build into the same out_dir: a late turn, a late parent heading or a
repeated ``(conv_id, turn_idx, ts)`` key resolves as it does in the batch
build. A batch replayed after a crash before its stream commit rewrites
only its own landing directories and the same buckets, so a replay is
idempotent. A batch build after a streamed commit raises ``ValueError``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..plans.checkpoint import CheckpointedRunner


def tumbling_window_agg(
    stream: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked event-time tumbling-window aggregation — the built-in
    Structured-Streaming windowed-agg path (vs the custom
    ``applyInPandasWithState`` sessionizer in ``stateful.py``): per
    (window, event_type) counts and an exact decimal cents sum.

    In append output mode a window emits only once the watermark
    (max event time − delay) passes its END — late rows inside the delay
    still land in their window; state for closed windows is evicted, so
    memory is bounded by (windows in flight × event types), independent of
    stream length. Value sums are decimal-summed integer cents: float-free
    results, immune to accumulation-order and normalization variance."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # same float-free payload shape as queries._scaled_bigint (not
            # imported: queries depends on this module)
            F.round(F.sum(F.col("value").cast("decimal(18,6)")) * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "cents")
    )


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    entity_dict: DataFrame,
    out_dir: str,
) -> None:
    """Run one AvailableNow pass: land the new transcript files of
    ``input_dir`` and re-derive the buckets they touch into ``out_dir``,
    which may hold a batch build (:meth:`CheckpointedRunner.run`)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        runner = CheckpointedRunner(spark, out_dir, run_id=f"batch-{batch_id}")
        runner.run_buckets(entity_dict, runner.land(batch_df, batch_id))

    q = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked STREAMING dedup — exactly-once landing of an
    at-least-once feed (replayed files, redelivered messages). Dedups on
    ALL columns, so the dedup key always includes ``ts_col`` and state is
    bounded by the watermark: keys older than ``watermark`` behind the
    max event time are evicted, and a replay arriving later than that is
    dropped outright — for a dedup, dropping the late copy IS the
    desired outcome (the original already landed). Whole-row keys also
    make the kept row deterministic whenever duplicates are
    byte-identical."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates()
