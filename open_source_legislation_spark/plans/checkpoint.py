"""Per-partition checkpointed, resumable execution with lineage + metrics.

The reference's resume design keeps state in the data itself: ``WHERE
embedding IS NULL ... LIMIT batch`` loops until no pending rows, tagging
failures instead of retrying forever (reference ``3_process.py:18-36``,
``processingHelpers.py:55-76``). The Spark analog:

- input rows land in ``num_buckets`` deterministic conversation buckets
  (``pmod(hash(conv_id), B)`` — Murmur3, stable across runs/executors)
  under ``_input/_bucket=b/_batch=<id>``, through one writer (``land``);
- :meth:`CheckpointedRunner.run_buckets` re-derives each given bucket from
  all of its landed rows and writes it to its own parquet partition
  directory with ``mode=overwrite`` (idempotent retries);
- a manifest row ``(run_id, stage, partition_id, status, rows_in, rows_out,
  committed_at)`` is appended after each bucket commit — the lineage ledger.

A batch build lands its input once and runs the buckets not yet in the
manifest, so a killed run re-executes only unfinished buckets and converges
to the identical final tables (tested by kill-and-resume). The streaming
front-end lands each micro-batch and runs the buckets it touched
(``streaming/incremental.py``), so passes after a batch build add to it; a
batch build after a streamed commit raises.

On a real cluster the same structure maps to Iceberg snapshot-per-bucket
commits; parquet directories are the sandbox stand-in (SURVEY §7.4.5).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import run_pipeline

MANIFEST_DIR = "_manifest"
METRICS_DIR = "_metrics"
INPUT_DIR = "_input"
LAYOUT_FILE = "_layout.json"  # the bucket count of the first landing
META_FILE = "_input_meta.json"  # the batch landing's fingerprint
BATCH_LANDING = -1  # streamed micro-batches are numbered from 0


def bucket_col(conv_id_col, num_buckets: int):
    return F.pmod(F.hash(conv_id_col), F.lit(num_buckets)).cast("int")


def _append_jsonl(path: str, *rows: dict) -> None:
    with open(path, "a") as fh:
        fh.writelines(json.dumps(row) + "\n" for row in rows)


def _write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


@dataclass
class BucketStats:
    partition_id: int
    rows_in: int
    rows_out: int
    mentions: int
    mentions_linked: int
    wall_ms: float


class CheckpointedRunner:
    """Resumable bucket-at-a-time executor for the KG pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str,
        num_buckets: int | None = None,
    ) -> None:
        """``num_buckets`` defaults to the out_dir's recorded count, else 8."""
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.num_buckets = num_buckets or self._recorded_buckets() or 8
        os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(out_dir, METRICS_DIR), exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST_DIR, "manifest.jsonl")

    def completed_buckets(self) -> set[int]:
        path = self._manifest_path()
        done: set[int] = set()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    row = json.loads(line)
                    if row["status"] == "success" and row["stage"] == "triples":
                        done.add(int(row["partition_id"]))
        return done

    def _commit(self, stats: BucketStats) -> None:
        """Append manifest + metrics rows — the per-partition lineage commit
        (analog of the reference's per-batch conn.commit(),
        processingHelpers.py:93-95)."""
        key = {"run_id": self.run_id, "stage": "triples", "partition_id": stats.partition_id}
        _append_jsonl(
            self._manifest_path(),
            {
                **key,
                "status": "success",
                "rows_in": stats.rows_in,
                "rows_out": stats.rows_out,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        miss_rate = (
            1.0 - stats.mentions_linked / stats.mentions if stats.mentions else 0.0
        )
        metrics = [
            ("triples_emitted", float(stats.rows_out)),
            ("mentions_linked", float(stats.mentions_linked)),
            ("link_miss_rate", miss_rate),
            ("wall_ms", stats.wall_ms),
        ]
        _append_jsonl(
            os.path.join(self.out_dir, METRICS_DIR, "metrics.jsonl"),
            *({**key, "metric": metric, "value": value} for metric, value in metrics),
        )

    # -- execution ---------------------------------------------------------
    @staticmethod
    def _parquet_rows(path: str) -> int:
        """Row count from the written parquet FOOTERS: a metadata read, no
        Spark job. (``Observation`` delivers empty metric rows under
        multi-threaded job submission in this PySpark build, so the
        committed files are the source of truth.)"""
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += pq.read_metadata(os.path.join(root, fn)).num_rows
        return total

    # -- input landing -----------------------------------------------------
    def _input_path(self) -> str:
        return os.path.join(self.out_dir, INPUT_DIR)

    def _recorded_buckets(self) -> int | None:
        """The bucket count recorded at the out_dir's first landing."""
        try:
            with open(os.path.join(self._input_path(), LAYOUT_FILE)) as fh:
                return json.load(fh)["num_buckets"]
        except FileNotFoundError:
            return None

    def _check_buckets(self) -> None:
        recorded = self._recorded_buckets()
        if recorded not in (None, self.num_buckets):
            raise ValueError(
                f"checkpoint resume: materialized input at "
                f"{self._input_path()} was bucketed with num_buckets="
                f"{recorded} but this run uses {self.num_buckets}; clear "
                f"{INPUT_DIR} (and the manifest) or restore the original "
                f"bucket count — reusing it would mislabel every bucket"
            )

    def _landing_dirs(self, batch_id: int) -> list[str]:
        pattern = os.path.join(
            glob.escape(self._input_path()), "_bucket=*", f"_batch={batch_id}"
        )
        return sorted(glob.glob(pattern))

    def _materialize_input(self, transcripts: DataFrame) -> None:
        """Land the batch build's input through :meth:`land` under
        :data:`BATCH_LANDING`. The fingerprint sidecar of the batch's own
        dirs is the landing's commit marker: a resume reuses the landing
        only when it matches the incoming transcripts, and raises
        ``ValueError`` on another bucket count or other input. Without a
        sidecar the batch lands afresh, which raises ``ValueError`` when the
        manifest already holds commits (from a stream): the runner cannot
        tell which of those buckets are current."""
        path = self._input_path()
        meta_path = os.path.join(path, META_FILE)
        if os.path.exists(meta_path):
            self._check_buckets()
            with open(meta_path) as fh:
                meta = json.load(fh)
            if "sum_crc32" not in meta:
                raise ValueError(
                    f"checkpoint resume: the meta sidecar at {meta_path} "
                    f"predates content fingerprinting (no sum_crc32 key), "
                    f"so the materialized input cannot be validated "
                    f"against the incoming transcripts; clear {INPUT_DIR} "
                    f"(and the manifest) to re-materialize"
                )
            incoming = self._input_fingerprint(transcripts)
            # a row count alone passes when the out_dir is re-pointed at
            # DIFFERENT input of equal size — exactly the silent-stale
            # failure this guard exists to close, so compare content too
            if meta["rows"] != incoming["rows"] or meta[
                "sum_crc32"
            ] != incoming["sum_crc32"]:
                raise ValueError(
                    f"checkpoint resume: materialized input at {path} holds "
                    f"rows={meta['rows']} sum_crc32={meta['sum_crc32']} "
                    f"but the incoming transcripts fingerprint as "
                    f"rows={incoming['rows']} sum_crc32="
                    f"{incoming['sum_crc32']}; the out_dir points at "
                    f"different input — clear it instead of silently "
                    f"resuming over stale buckets"
                )
            return
        if self.completed_buckets():
            raise ValueError(
                f"checkpoint: {self.out_dir} already holds committed buckets "
                f"but no batch landing, so a batch build cannot tell which "
                f"of them are current; stream the new rows through "
                f"incremental_extract, or clear the out_dir"
            )
        if self.land(transcripts, BATCH_LANDING):
            # fingerprint the COMMITTED parquet, not a second evaluation of
            # the incoming plan; an empty landing has no parquet to read
            transcripts = self.spark.read.schema(transcripts.schema).parquet(
                *self._landing_dirs(BATCH_LANDING)
            )
        _write_json(meta_path, self._input_fingerprint(transcripts))

    @staticmethod
    def _input_fingerprint(transcripts: DataFrame) -> dict:
        """Order-independent content fingerprint of the input in ONE
        aggregate scan: row count + SUM of per-row crc32 over (conv_id,
        turn_idx, text), in DECIMAL(38,0) as 1e12 rows x 2^32 exceeds int64.
        Unlike XOR, a sum does not cancel a duplicated row PAIR (duplicated
        turns are a real input class). Each field is coalesced to its own
        NULL sentinel, as concat_ws drops nulls: (NULL, '5', t) and ('5',
        NULL, t) would otherwise concat to the same string."""
        fields = [
            F.coalesce(F.col(c).cast("string"), F.lit(f"\x00nul:{c}"))
            for c in ("conv_id", "turn_idx", "text")
        ]
        row = transcripts.select(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws("\x1f", *fields)).cast("decimal(38,0)")).alias("h"),
        ).first()
        return {
            "rows": int(row["n"]),
            "sum_crc32": int(row["h"]) if row["h"] is not None else 0,
        }

    def _run_bucket(self, entity_dict: DataFrame, b: int) -> BucketStats:
        """Re-derive one bucket from all its landed rows. rows_in and
        rows_out come from parquet footers (no Spark job); mention stats are
        ONE aggregate over the derived-frame parquet spill."""
        t0 = time.time()
        # per-bucket scheduler pool: with FAIR mode, concurrent bucket jobs
        # share executors instead of queueing behind each other. Thread-local
        # properties only isolate per-bucket when PySpark pinned-thread mode
        # is active — without it the property bleeds across Python threads
        # and buckets land in arbitrary pools (scheduling-only; results are
        # unaffected). Skip the property rather than mis-scope it, and give
        # the caller its own pool back after the bucket.
        sc = self.spark.sparkContext
        caller_pool = sc.getLocalProperty("spark.scheduler.pool")
        pin = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() != "false"
        if pin:
            sc.setLocalProperty("spark.scheduler.pool", f"bucket-{b}")
        try:
            part_path = os.path.join(self._input_path(), f"_bucket={b}")
            if not os.path.exists(part_path):
                # hash bucket with no conversations: commit an empty success
                # row so resume skips it
                return BucketStats(
                    partition_id=b, rows_in=0, rows_out=0, mentions=0,
                    mentions_linked=0, wall_ms=(time.time() - t0) * 1000.0,
                )
            # directory-level pruning: only this bucket's files are ever opened
            # (the analog of Iceberg partition pruning on bucket(B, conv_id))
            part = self.spark.read.parquet(part_path)
            rows_in = self._parquet_rows(part_path)
            res = run_pipeline(self.spark, part, entity_dict)
            tri_path = os.path.join(self.out_dir, "triples", f"bucket={b}")
            nodes_path = os.path.join(self.out_dir, "nodes", f"bucket={b}")
            # overwrite per-bucket dirs → retries of a half-written bucket
            # are idempotent (reference: idempotent batches, 3_process.py)
            res.triples.write.mode("overwrite").parquet(tri_path)
            res.nodes.write.mode("overwrite").parquet(nodes_path)
            m = res.mentions.agg(
                F.count(F.lit(1)).alias("n"), F.count("entity_id").alias("linked")
            ).first()
            res.cleanup()
            return BucketStats(
                partition_id=b,
                rows_in=rows_in,
                rows_out=self._parquet_rows(tri_path),
                mentions=int(m.n),
                mentions_linked=int(m.linked),
                wall_ms=(time.time() - t0) * 1000.0,
            )
        finally:
            if pin:
                sc.setLocalProperty("spark.scheduler.pool", caller_pool)

    def land(self, batch_df: DataFrame, batch_id: int) -> list[int]:
        """Land one batch of rows under ``_bucket=b/_batch=<batch_id>`` and
        return the buckets it touched, none for an empty batch. The only
        writer of ``_input/``: the batch build lands under
        :data:`BATCH_LANDING`, each streamed micro-batch under its id,
        replacing an earlier landing of that id, so a replayed batch lands
        once. Every landing is checked: a bucket count other than the one
        recorded at the out_dir's first landing raises ``ValueError``, and a
        write whose rows (an ``Observation`` on the write itself) differ
        from its footers raises ``RuntimeError``."""
        path = self._input_path()
        self._check_buckets()
        os.makedirs(path, exist_ok=True)
        _write_json(os.path.join(path, LAYOUT_FILE), {"num_buckets": self.num_buckets})
        for d in self._landing_dirs(batch_id):
            shutil.rmtree(d)
        bucket = bucket_col(F.col("conv_id"), self.num_buckets)
        obs = Observation("landed_rows")
        (
            batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .withColumns({"_bucket": bucket, "_batch": F.lit(batch_id)})
            .repartition(self.num_buckets, "_bucket")
            .write.mode("append")
            .partitionBy("_bucket", "_batch")
            .parquet(path)
        )
        dirs = self._landing_dirs(batch_id)
        try:
            incoming_rows = int(obs.get["rows"])
        except Py4JJavaError:
            # over empty input Spark may run no task of the observed plan
            # and deliver no metric row; such a write lands no dir
            if dirs:
                raise
            incoming_rows = 0
        durable_rows = sum(self._parquet_rows(d) for d in dirs)
        if incoming_rows != durable_rows:
            raise RuntimeError(
                f"landing of batch {batch_id} at {path} lost rows in flight: "
                f"incoming {incoming_rows} vs committed {durable_rows}"
            )
        return sorted(int(os.path.dirname(d).rsplit("=", 1)[1]) for d in dirs)

    def run(
        self,
        transcripts: DataFrame,
        entity_dict: DataFrame,
        fail_after: int | None = None,
        max_concurrency: int = 4,
    ) -> int:
        """Land ``transcripts`` and process all unfinished buckets; returns
        #buckets processed."""
        done = self.completed_buckets()
        self._materialize_input(transcripts)
        todo = [b for b in range(self.num_buckets) if b not in done]
        return self.run_buckets(entity_dict, todo, fail_after, max_concurrency)

    def run_buckets(
        self,
        entity_dict: DataFrame,
        buckets: list[int],
        fail_after: int | None = None,
        max_concurrency: int = 4,
    ) -> int:
        """Re-derive and commit ``buckets``; returns #buckets processed.

        Buckets run as CONCURRENT Spark jobs (thread pool + FAIR scheduler
        pools) so a small bucket never waits behind a big one; the manifest
        append is serialized under a lock. ``fail_after`` aborts after N
        bucket commits — the kill-and-resume test hook (simulates a mid-run
        driver loss at a partition boundary); it forces sequential execution
        so the kill point is deterministic.
        """
        import threading
        from concurrent.futures import ThreadPoolExecutor

        lock = threading.Lock()
        processed = 0

        def one(b: int) -> None:
            nonlocal processed
            stats = self._run_bucket(entity_dict, b)
            with lock:
                self._commit(stats)
                processed += 1
                if fail_after is not None and processed >= fail_after:
                    raise RuntimeError(f"injected failure after {processed} buckets")

        if fail_after is not None or max_concurrency <= 1:
            for b in buckets:
                one(b)
        else:
            with ThreadPoolExecutor(max_workers=max_concurrency) as ex:
                futures = [ex.submit(one, b) for b in buckets]
                for f in futures:
                    f.result()  # propagate the first failure
        return processed

    # -- reads -------------------------------------------------------------
    def triples(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "triples"))

    def nodes(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "nodes"))

    def metrics(self) -> DataFrame:
        return self.spark.read.json(
            os.path.join(self.out_dir, METRICS_DIR, "metrics.jsonl")
        )
