"""The benchmark's ops, their output and leak checks, and the traced layer
sweep. Every call into the package goes through its public functions; the
traced sweep wraps them from here, so the package is never edited."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from open_source_legislation_spark import schemas, synth
from open_source_legislation_spark.operators import extract
from open_source_legislation_spark.plans import checkpoint as ck
from open_source_legislation_spark.plans.checkpoint import CheckpointedRunner
from open_source_legislation_spark.plans.pipeline import run_pipeline
from open_source_legislation_spark.queries import QUERIES
from open_source_legislation_spark.sources.io import read_transcripts

from .inputs import Corpus, tree_bytes, triple_digest_spark
from .tables import CONTRACT_QUERIES, SHUFFLE_QUERIES, frame_digest
from .sqlmetrics import (
    PART_SIZE,
    PY_RECV,
    PY_SENT,
    PY_TIME,
    SHUFFLE_BYTES,
    SPILL,
    Execution,
    MetricsReader,
)
from .tracing import Tracer, tree_cpu_s

# Checkpoint buckets. Each bucket pays its own plan construction and about
# ten Spark jobs, so the bucket count sets the op's fixed cost.
NUM_BUCKETS = 4
SPILL_PREFIX = "osl_derived_"


class OpFailed(Exception):
    """An op ran but its output or its cleanup was wrong."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise OpFailed(what)


@dataclass
class Tables:
    path: str  # directory of <table>.parquet files
    meta: dict  # sizes, seed, input digests, the DuckDB reference digests


@dataclass
class Ctx:
    spark: object
    corpus: Corpus | None
    work_dir: str  # checkpoint outputs of this run
    tmp_dir: str  # the process's TMPDIR, where the pipeline spills
    nproc: int
    reader: MetricsReader
    tables: Tables | None = None
    entity_dict: object = None

    def __post_init__(self) -> None:
        self.entity_dict = self.spark.createDataFrame(
            synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
        )

    def transcripts(self):
        return read_transcripts(self.spark, self.corpus.path)


def check_no_leaks(ctx: Ctx) -> None:
    left = [d for d in os.listdir(ctx.tmp_dir) if d.startswith(SPILL_PREFIX)]
    expect(not left, f"spill dirs left behind: {left}")
    # localCheckpoint blocks (graph loops, connected components) are not
    # handed over; Spark's context cleaner frees them once unreferenced
    persisted = [
        rdd
        for rdd in ctx.spark.sparkContext._jsc.getPersistentRDDs().values()
        if not rdd.rdd().isLocallyCheckpointed()
    ]
    expect(not persisted, f"{len(persisted)} persistent RDDs left behind")


def _check_digest(ctx: Ctx, got: tuple[int, int], where: str) -> None:
    meta = ctx.corpus.meta
    want = (meta["ref_triples"], int(meta["ref_triples_digest"]))
    expect(got == want, f"{where}: triples digest {got} != reference {want}")


def _check_rows(ctx: Ctx, ex: Execution, key: str, where: str) -> None:
    got = ex.root_rows()
    want = ctx.corpus.meta[key]
    expect(got == want, f"{where}: {got} rows written, reference has {want}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, fn)).num_rows
    return total


# -- kg_batch ----------------------------------------------------------------


def batch_op(ctx: Ctx, full_check: bool = False) -> dict:
    """One build: run_pipeline, then materialize triples, then nodes.

    The timed segments exclude the checks, which read the write's own SQL
    metrics afterwards. With ``full_check`` the triples are materialized
    as an order-independent digest aggregate instead of a noop write, and
    compared with the reference digest."""
    reader = ctx.reader
    pid = os.getpid()
    c0, t0 = tree_cpu_s(pid), time.perf_counter()
    res = run_pipeline(ctx.spark, ctx.transcripts(), ctx.entity_dict)
    t1 = time.perf_counter()
    try:
        triples = res.triples
        if full_check:
            digest = triple_digest_spark(triples)
        else:
            _noop(triples)
        t2, c2 = time.perf_counter(), tree_cpu_s(pid)
        tri_exec = reader.last_id()
        c3, t3 = tree_cpu_s(pid), time.perf_counter()
        _noop(res.nodes)
        t4, c4 = time.perf_counter(), tree_cpu_s(pid)
        nodes_exec = reader.last_id()
    finally:
        res.cleanup()
    t5 = time.perf_counter()
    if full_check:
        _check_digest(ctx, digest, "kg_batch")
    else:
        _check_rows(ctx, reader.one(tri_exec), "ref_triples", "kg_batch triples")
    _check_rows(ctx, reader.one(nodes_exec), "ref_nodes", "kg_batch nodes")
    check_no_leaks(ctx)
    return {
        "wall_s": (t2 - t0) + (t4 - t3),
        "cpu_s": (c2 - c0) + (c4 - c3),
        "triples_per_s": ctx.corpus.meta["ref_triples"] / (t2 - t0),
        "run_pipeline_s": t1 - t0,
        "triples_s": t2 - t1,
        "nodes_s": t4 - t3,
        "check_s": time.perf_counter() - t5,
    }


# -- checkpointed build (traced runs only) -----------------------------------


def _bucket_walls(out: str) -> list[float]:
    path = os.path.join(out, ck.METRICS_DIR, "metrics.jsonl")
    with open(path) as fh:
        rows = [json.loads(line) for line in fh]
    return [r["value"] / 1e3 for r in rows if r["metric"] == "wall_ms"]


def _manifest_rows(out: str) -> tuple[int, int]:
    """(committed buckets, triples rows they report)."""
    path = os.path.join(out, ck.MANIFEST_DIR, "manifest.jsonl")
    with open(path) as fh:
        rows = [json.loads(line) for line in fh]
    ok = [r for r in rows if r["status"] == "success"]
    return len({r["partition_id"] for r in ok}), sum(r["rows_out"] for r in ok)


def ckpt_op(ctx: Ctx, name: str, full_check: bool = False, runner_hook=None) -> dict:
    """One checkpointed run into a fresh output dir, checked, then removed."""
    out = os.path.join(ctx.work_dir, "ckpt", name)
    shutil.rmtree(out, ignore_errors=True)
    runner = CheckpointedRunner(ctx.spark, out, run_id=name, num_buckets=NUM_BUCKETS)
    hook = runner_hook(runner) if runner_hook else nullcontext()
    try:
        with hook:
            t0 = time.perf_counter()
            runner.run(
                ctx.transcripts(),
                ctx.entity_dict,
                max_concurrency=min(ctx.nproc, NUM_BUCKETS),
            )
            wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        buckets, rows = _manifest_rows(out)
        expect(buckets == NUM_BUCKETS, f"{buckets}/{NUM_BUCKETS} buckets committed")
        expect(
            rows == ctx.corpus.meta["ref_triples"],
            f"kg_checkpointed: manifest reports {rows} triples, reference has "
            f"{ctx.corpus.meta['ref_triples']}",
        )
        nodes = _parquet_rows(os.path.join(out, "nodes"))
        expect(
            nodes == ctx.corpus.meta["ref_nodes"],
            f"kg_checkpointed: {nodes} nodes written, reference has "
            f"{ctx.corpus.meta['ref_nodes']}",
        )
        if full_check:
            _check_digest(ctx, triple_digest_spark(runner.triples()), "kg_checkpointed")
        walls = _bucket_walls(out)
        result = {
            "wall_s": wall,
            "bucket_p50_s": statistics.median(walls),
            "bucket_max_s": max(walls),
            "bytes_written": tree_bytes(out),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
    check_no_leaks(ctx)
    result["check_s"] = time.perf_counter() - t1
    return result


# -- contract_mix ------------------------------------------------------------


def query_op(ctx: Ctx, name: str, full_check: bool = False) -> dict:
    """One contract query: build it, materialize it, and release the caches
    it hands over.

    The timed segment is the query function plus the materialization;
    queries that run jobs while they build (graph loops, model training)
    pay those too. The materialization is a noop write whose row count is
    compared with the DuckDB reference. With ``full_check`` it is a
    collect instead, and the digest of the collected rows is compared."""
    reader = ctx.reader
    mark = reader.last_id()
    df = None
    try:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        df = QUERIES[name](ctx.spark, ctx.tables.path)
        if full_check:
            rows = [tuple(r) for r in df.collect()]
        else:
            _noop(df)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
    finally:
        for cached in getattr(df, "_osl_persists", []):
            cached.unpersist()
    t1 = time.perf_counter()
    execs = reader.since(mark)
    ref = ctx.tables.meta["refs"][name]
    if full_check:
        got = frame_digest(df.columns, rows)
        want = (ref["cols"], ref["rows"], ref["md5"])
        expect(got == want, f"{name}: result digest {got} != reference {want}")
    else:
        n = execs[-1].root_rows()
        expect(n == ref["rows"], f"{name}: {n} rows written, reference has {ref['rows']}")
    check_no_leaks(ctx)
    return {
        "query": name,
        "wall_s": wall,
        "cpu_s": cpu,
        "shuffle_bytes": sum(e.total("Exchange", SHUFFLE_BYTES) for e in execs),
        "check_s": time.perf_counter() - t1,
    }


# -- traced layer sweep --------------------------------------------------------


class _TracedResult:
    """PipelineResult seen through spans: each output accessor (driver-side
    plan construction) gets a span and labels the Spark action that follows
    it in the same thread."""

    def __init__(self, res, tracer: Tracer, sc, bucket) -> None:
        self._res, self._tracer, self._sc, self._bucket = res, tracer, sc, bucket

    def _plan(self, key: str):
        with self._tracer.span(f"pipeline.{key}_plan", bucket=self._bucket):
            df = getattr(self._res, key)
        self._sc.setJobDescription(f"kgbench:{key}:{self._bucket}")
        return df

    @property
    def triples(self):
        return self._plan("triples")

    @property
    def nodes(self):
        return self._plan("nodes")

    @property
    def mentions(self):
        return self._plan("mentions")

    def __getattr__(self, name):
        return getattr(self._res, name)


def _checkpoint_tracing(ctx: Ctx, tracer: Tracer):
    """Hook for :func:`ckpt_op`: wraps ``run_pipeline`` as
    ``plans.checkpoint`` imports it, and the runner's per-bucket and input
    materialization methods, for the duration of one op."""
    sc = ctx.spark.sparkContext
    local = threading.local()

    @contextmanager
    def hook(runner):
        orig_pipeline = ck.run_pipeline
        orig_bucket = runner._run_bucket
        orig_materialize = runner._materialize_input

        def pipeline(*args, **kwargs):
            b = getattr(local, "bucket", None)
            sc.setJobDescription(f"kgbench:derive:{b}")
            with tracer.span("pipeline.run_pipeline", bucket=b):
                res = orig_pipeline(*args, **kwargs)
            return _TracedResult(res, tracer, sc, b)

        def bucket(entity_dict, b):
            local.bucket = b
            try:
                with tracer.span("checkpoint.bucket", bucket=b):
                    return orig_bucket(entity_dict, b)
            finally:
                sc.setJobDescription(None)

        def materialize(transcripts):
            sc.setJobDescription("kgbench:materialize")
            try:
                with tracer.span("checkpoint.materialize"):
                    return orig_materialize(transcripts)
            finally:
                sc.setJobDescription(None)

        ck.run_pipeline = pipeline
        runner._run_bucket = bucket
        runner._materialize_input = materialize
        try:
            yield
        finally:
            ck.run_pipeline = orig_pipeline

    return hook


def _skew(ex: Execution) -> float:
    """max ÷ median post-AQE partition size of the largest shuffle read."""
    reads = [n for n in ex.of("AQEShuffleRead") if PART_SIZE in n.metrics]
    if not reads:
        return 1.0
    big = max(reads, key=lambda n: n.metrics[PART_SIZE])
    spread = big.spread.get(PART_SIZE)
    if not spread or spread[1] <= 0:
        return 1.0  # one partition after coalescing
    return spread[2] / spread[1]


def _span_s(s: dict) -> float:
    return s["end"] - s["start"]


def _traced_batch(ctx: Ctx, tracer: Tracer, op_id: str) -> dict:
    sc, reader = ctx.spark.sparkContext, ctx.reader
    m: dict[str, float] = {}
    res = None
    with tracer.op(op_id, "kg_batch.op"):
        mark = reader.last_id()
        sc.setJobDescription("kgbench:derive")
        try:
            with tracer.span("pipeline.run_pipeline") as s_run:
                res = run_pipeline(ctx.spark, ctx.transcripts(), ctx.entity_dict)
            derive = [e for e in reader.since(mark) if e.description == "kgbench:derive"]
            m["pipeline.spill_bytes"] = tree_bytes(res.spill_dir)
            with tracer.span("pipeline.triples_plan") as s_tp:
                triples = res.triples
            sc.setJobDescription("kgbench:triples")
            with tracer.span("pipeline.triples_exec") as s_tx:
                _noop(triples)
            ex_tri = reader.one(reader.last_id())
            with tracer.span("pipeline.nodes_plan") as s_np:
                nodes = res.nodes
            sc.setJobDescription("kgbench:nodes")
            with tracer.span("pipeline.nodes_exec") as s_nx:
                _noop(nodes)
            ex_nodes = reader.one(reader.last_id())
            sc.setJobDescription("kgbench:mentions")
            men = res.mentions.agg(
                F.count(F.lit(1)).alias("n"), F.count("entity_id").alias("linked")
            ).first()
        finally:
            sc.setJobDescription(None)
            if res is not None:
                res.cleanup()
    _check_rows(ctx, ex_tri, "ref_triples", "traced kg_batch triples")
    _check_rows(ctx, ex_nodes, "ref_nodes", "traced kg_batch nodes")
    check_no_leaks(ctx)
    expect(len(derive) == 1, f"{len(derive)} derive executions, expected 1")
    d = derive[0]
    m.update(
        {
            "pipeline.run_pipeline_s": _span_s(s_run),
            "pipeline.triples_plan_s": _span_s(s_tp),
            "pipeline.nodes_plan_s": _span_s(s_np),
            "pipeline.driver_s": _span_s(s_tp) + _span_s(s_np),
            "pipeline.triples_exec_s": _span_s(s_tx),
            "pipeline.triples_per_s": ctx.corpus.meta["ref_triples"]
            / (_span_s(s_run) + _span_s(s_tp) + _span_s(s_tx)),
            "pipeline.nodes_exec_s": _span_s(s_nx),
            "extract.payload_python_s": d.total("ArrowEvalPython", PY_TIME),
            "extract.payload_bytes_sent": d.total("ArrowEvalPython", PY_SENT),
            "extract.payload_bytes_received": d.total("ArrowEvalPython", PY_RECV),
            "extract.state_python_s": d.total("MapInArrow", PY_TIME),
            "extract.shuffle_bytes": d.total("Exchange", SHUFFLE_BYTES),
            "extract.partition_skew": _skew(d),
            "extract.sort_spill_bytes": d.total("Sort", SPILL),
            "pipeline.triples_exchanges": len(ex_tri.of("Exchange")),
            "pipeline.triples_shuffle_bytes": ex_tri.total("Exchange", SHUFFLE_BYTES),
            "pipeline.triples_python_nodes": len(ex_tri.python_nodes()),
            "linking.python_s": ex_tri.python_s(),
            "linking.mentions": men["n"],
            "linking.hit_rate": men["linked"] / men["n"] if men["n"] else 1.0,
            "enrich.python_s": ex_nodes.python_s(),
            "pipeline.nodes_shuffle_bytes": ex_nodes.total("Exchange", SHUFFLE_BYTES),
            "pipeline.nodes_spill_bytes": sum(
                n.metrics.get(SPILL, 0.0) for n in ex_nodes.nodes.values()
            ),
        }
    )
    m["_traced_wall_s"] = sum(_span_s(s) for s in (s_run, s_tp, s_tx, s_np, s_nx))
    return m


def _isolations(ctx: Ctx, tracer: Tracer, op_id: str) -> dict:
    """Scan only, scan + payload kernel, and the whole derive, each as a
    noop write over the corpus."""
    with tracer.op(op_id, "isolation.op"):
        with tracer.span("io.scan") as s_scan:
            _noop(ctx.transcripts())
        with tracer.span("extract.payload_only") as s_pay:
            _noop(ctx.transcripts().select(extract.turn_payload_udf("text").alias("f")))
        with tracer.span("extract.derive_only") as s_der:
            _noop(extract.derive_nodes_stream(ctx.transcripts()))
    check_no_leaks(ctx)
    scan, pay, der = _span_s(s_scan), _span_s(s_pay), _span_s(s_der)
    return {
        "io.scan_s": scan,
        "extract.payload_s": pay - scan,
        "extract.state_self_s": der - pay,
        "_derive_only_s": der,
    }


def _traced_ckpt(ctx: Ctx, tracer: Tracer, op_id: str, full_check: bool) -> dict:
    with tracer.op(op_id, "kg_checkpointed.op"):
        r = ckpt_op(
            ctx, op_id, full_check=full_check, runner_hook=_checkpoint_tracing(ctx, tracer)
        )
    buckets = [s for s in tracer.of("checkpoint.bucket", op_id)]
    per_bucket = []
    for b in buckets:
        kids = [s for s in tracer.spans if s["parent"] == b["id"]]
        pipe = sum(_span_s(s) for s in kids if s["name"] == "pipeline.run_pipeline")
        plan = sum(_span_s(s) for s in kids if s["name"].endswith("_plan"))
        per_bucket.append((_span_s(b), pipe, plan))
    first = min(b["start"] for b in buckets)
    last = max(b["end"] for b in buckets)
    (mat,) = tracer.of("checkpoint.materialize", op_id)
    return {
        "checkpoint.wall_s": r["wall_s"],
        "checkpoint.materialize_s": _span_s(mat),
        "checkpoint.bucket_p50_s": r["bucket_p50_s"],
        "checkpoint.bucket_max_s": r["bucket_max_s"],
        "checkpoint.bucket_pipeline_s": statistics.median(p for _, p, _ in per_bucket),
        "checkpoint.bucket_plan_s": statistics.median(p for _, _, p in per_bucket),
        "checkpoint.bucket_write_s": statistics.median(
            w - p - q for w, p, q in per_bucket
        ),
        "checkpoint.in_flight": sum(w for w, _, _ in per_bucket) / (last - first),
        "checkpoint.bytes_written": r["bytes_written"],
        "checkpoint.write_amp": r["bytes_written"] / ctx.corpus.meta["input_bytes"],
    }


def _traced_contract(ctx: Ctx, tracer: Tracer, op_id: str) -> dict:
    m = {}
    with tracer.op(op_id, "contract_mix.op"):
        for name in CONTRACT_QUERIES:
            with tracer.span(f"q.{name}"):
                r = query_op(ctx, name)
            m[f"q.{name}_s"] = r["wall_s"]
            if name in SHUFFLE_QUERIES:
                m[f"q.{name}.shuffle_bytes"] = r["shuffle_bytes"]
    return m


def layer_sweep(ctx: Ctx, tracer: Tracer, n: int) -> dict:
    """One pass over every layer: a traced build, the same build untraced
    (for the tracing overhead), the isolation actions, a traced
    checkpointed run and a traced pass over the contract queries. The
    first sweep's checkpointed run also checks the full triples digest.
    Returns the per-layer metrics of this pass."""
    m = _traced_batch(ctx, tracer, f"sweep{n}.batch")
    plain = batch_op(ctx)
    m.update(_isolations(ctx, tracer, f"sweep{n}.isolation"))
    m.update(_traced_ckpt(ctx, tracer, f"sweep{n}.ckpt", full_check=n == 0))
    m.update(_traced_contract(ctx, tracer, f"sweep{n}.contract"))
    m["pipeline.spill_s"] = m["pipeline.run_pipeline_s"] - m["_derive_only_s"]
    m["trace.overhead_s"] = m["_traced_wall_s"] - plain["wall_s"]
    return {k: v for k, v in m.items() if not k.startswith("_")}
