"""Incremental ingestion — Structured Streaming front-end.

The reference is pure batch; its incremental behavior is the poll-until-
empty resume loop (reference ``3_process.py:22-29``), which our batch
checkpoint runner reproduces (``plans/checkpoint.py``). This module adds the
optional streaming front-end SURVEY §2.11 sketches: a file-source stream of
transcript rows processed with ``Trigger.AvailableNow`` (deterministic,
terminating — the streaming analog of "process until no pending rows"),
deduped within a watermark (late/duplicate arrivals — the streaming analog
of ``dedup_version``), extracted per micro-batch via ``foreachBatch`` by
``run_pipeline`` over that micro-batch's rows alone, and written to the
triples sink as one overwritten ``batch_id=<id>`` directory per
micro-batch. Stream progress lives in the stream checkpoint directory, and
a batch replayed after a crash before its commit replaces its own output
instead of landing twice.

Each micro-batch is derived on its own: the state pass (parent stack,
``ord``, definition scope, turn dedup) restarts at every batch. So the
triples equal the batch build only when every conversation's turns arrive
in one micro-batch; a conversation split across batches yields wrong
parents and scopes (ROADMAP open item 1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..plans.pipeline import run_pipeline


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
    watermark: str = "10 minutes",
) -> None:
    """Run one AvailableNow pass: new transcript parquet files → triples.

    ``dropDuplicates`` under a watermark bounds dedup state. A
    (conv_id, turn_idx, ts) replay is dropped: as a duplicate while its
    key is in state, and as late data once the watermark (max ``ts`` seen
    minus ``watermark``) has passed its ``ts``, which is also when the
    key leaves state. Any other row that late is dropped too.
    """
    stream = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .dropDuplicates(["conv_id", "turn_idx", "ts"])
    )

    triples_dir = os.path.join(out_dir, "triples")
    ckpt_dir = os.path.join(out_dir, "_stream_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = run_pipeline(spark, batch_df, entity_dict)
        # one overwritten dir per batch: a batch replayed after a crash
        # between this write and the commit log replaces its own output
        # instead of landing twice; reads recover ``batch_id`` by
        # partition discovery
        res.triples.write.mode("overwrite").parquet(
            os.path.join(triples_dir, f"batch_id={batch_id}")
        )
        res.cleanup()

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_dir)
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
