"""Benchmark of the KG construction engine; see README.md in this directory.

    python3 kgbench/run.py --workload kg_batch --seed 42 --seconds 6 --trace 0

Run from the root of a checkout. The package under test is imported from
the checkout this file lives in, never from anywhere else. The last line of
standard output is the result object; the line before it carries the
provenance and every raw sample.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from kgbench.tables import CONTRACT_QUERIES, SHUFFLE_QUERIES  # noqa: E402

PKG_DIR = os.path.join(ROOT, "open_source_legislation_spark")
WORK = os.path.join(HERE, "_work")
# a run stops starting ops when the next one might end past this
HARD_LIMIT_S = 165.0

WORKLOADS = ("kg_batch", "contract_mix")

E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

PER_LAYER = {
    "io.scan_s": "s",
    "extract.payload_s": "s",
    "extract.payload_python_s": "s",
    "extract.payload_bytes_sent": "bytes",
    "extract.payload_bytes_received": "bytes",
    "extract.state_self_s": "s",
    "extract.state_python_s": "s",
    "extract.shuffle_bytes": "bytes",
    "extract.partition_skew": "ratio",
    "pipeline.run_pipeline_s": "s",
    "pipeline.spill_s": "s",
    "pipeline.spill_bytes": "bytes",
    "pipeline.triples_plan_s": "s",
    "pipeline.nodes_plan_s": "s",
    "pipeline.driver_s": "s",
    "pipeline.triples_exec_s": "s",
    "pipeline.triples_per_s": "triples/s",
    "pipeline.triples_exchanges": "count",
    "pipeline.triples_shuffle_bytes": "bytes",
    "pipeline.triples_python_nodes": "count",
    "linking.python_s": "s",
    "linking.hit_rate": "ratio",
    "pipeline.nodes_exec_s": "s",
    "enrich.python_s": "s",
    "pipeline.nodes_shuffle_bytes": "bytes",
    "checkpoint.wall_s": "s",
    "checkpoint.materialize_s": "s",
    "checkpoint.bucket_p50_s": "s",
    "checkpoint.bucket_max_s": "s",
    "checkpoint.bucket_pipeline_s": "s",
    "checkpoint.bucket_plan_s": "s",
    "checkpoint.bucket_write_s": "s",
    "checkpoint.in_flight": "buckets",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amp": "ratio",
    **{f"q.{q}_s": "s" for q in CONTRACT_QUERIES},
    **{f"q.{q}.shuffle_bytes": "bytes" for q in SHUFFLE_QUERIES},
    "trace.overhead_s": "s",
}


def _prepare_env(run_dir: str) -> str:
    """Point the package import, Spark's Python workers, temp files and
    Spark's scratch space at this checkout. Returns the temp dir."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)  # keep the package default
    return tmp


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = os.path.join(ROOT, ".git", ref)
    if os.path.exists(loose):
        with open(loose) as fh:
            return fh.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    return None


def _package_digest() -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(PKG_DIR):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                h.update(os.path.relpath(path, PKG_DIR).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _provenance(spark, corpus, tables, args, nproc: int) -> dict:
    import pyspark

    import open_source_legislation_spark as pkg

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "package_path": os.path.dirname(os.path.abspath(pkg.__file__)),
        "package_sha256": _package_digest(),
        "git_commit": _git_commit(),
        "input": {
            "transcripts": corpus and {"path": corpus.path, **corpus.meta},
            "tables": tables and {"path": tables.path, **tables.meta},
        },
    }


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from kgbench.tracing import descendants

    children = descendants(os.getpid()) - {os.getpid()}
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """One benchmark process: set-up, the measured loop, the result."""

    def __init__(self, args, ctx, tracer) -> None:
        self.args, self.ctx, self.tracer = args, ctx, tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, fn, *a, **kw):
        """Run one op; an exception or a failed check counts it failed."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 — every op failure is counted
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
            return None

    def loop(self, step) -> list:
        """Call ``step()`` until ``--seconds`` have passed (at least once);
        returns what each call returned, failed calls (None) left out."""
        samples = []
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            r = step()
            took = time.perf_counter() - t
            if r is not None:
                samples.append(r)
            now = time.perf_counter()
            if now - start >= self.args.seconds:
                break
            if now - _T_START + 1.5 * took > HARD_LIMIT_S:
                print("kgbench: stopping early for the time limit", file=sys.stderr)
                break
        return samples

    def contract_pass(self, full_check: bool = False) -> list[dict]:
        """Every contract query once, each an op of its own."""
        from kgbench import workloads as w

        out = []
        for name in CONTRACT_QUERIES:
            r = self.attempt(w.query_op, self.ctx, name, full_check=full_check)
            if r is not None:
                out.append(r)
        return out


def _median(samples: list[dict], key: str) -> float:
    vals = [s[key] for s in samples if key in s]
    return statistics.median(vals) if vals else 0.0


def _setup_s(gen_s: float, check_s: float) -> float:
    """Process start until now, less input generation and the full check."""
    return time.perf_counter() - _T_START - gen_s - check_s


def _measure(runner: Runner, ctx, gen_s: float) -> tuple[dict, dict]:
    from kgbench import workloads as w

    if runner.args.trace:
        # one traced mode, whatever the workload: warm the build and the
        # contract queries once (each with its full output check), then
        # repeat the sweep
        runner.attempt(w.batch_op, ctx, full_check=True)
        runner.contract_pass(full_check=True)
        # the checkpointed op runs the build's DAG, so the build warms it
        # too; the first sweep's checkpointed op is its fully checked one
        ops = iter(range(1_000_000))
        sweeps = runner.loop(
            lambda: runner.attempt(w.layer_sweep, ctx, runner.tracer, next(ops))
        )
        metrics = {k: _median(sweeps, k) for k in PER_LAYER}
        return metrics, {"sweeps": sweeps}

    if runner.args.workload == "kg_batch":
        # set-up ends with the cold op, which is also the fully checked
        # one, and one more untimed op: the first warm build still spends a
        # tenth more CPU than the next while the JVM compiles the hot paths
        warm = runner.attempt(w.batch_op, ctx, full_check=True)
        runner.attempt(w.batch_op, ctx)
        setup_s = _setup_s(gen_s, warm["check_s"] if warm else 0.0)
        samples = runner.loop(lambda: runner.attempt(w.batch_op, ctx))
        per_op = {k: _median(samples, k) for k in ("wall_s", "cpu_s")}
    else:
        warm = runner.contract_pass(full_check=True)
        setup_s = _setup_s(gen_s, sum(r["check_s"] for r in warm))
        passes = runner.loop(runner.contract_pass)
        samples = [r for p in passes for r in p]
        # the sums of the per-query medians
        per_op = {
            k: sum(
                _median([r for r in samples if r["query"] == q], k)
                for q in CONTRACT_QUERIES
            )
            for k in ("wall_s", "cpu_s")
        }
    metrics = {"setup_s": setup_s, "op_cpu_s": per_op["cpu_s"]}
    raw = {"op_wall_s": per_op["wall_s"], "samples": samples, "warmup": warm}
    return metrics, {**raw, "gen_s": gen_s}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(PKG_DIR, "__init__.py")):
        print(f"kgbench: no package to measure at {PKG_DIR}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = _prepare_env(run_dir)
    try:
        return _run(args, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, tmp: str) -> int:
    from open_source_legislation_spark.session import get_spark

    from kgbench import workloads as w
    from kgbench.inputs import ensure_corpus
    from kgbench.sqlmetrics import MetricsReader
    from kgbench.tables import ensure_tables
    from kgbench.tracing import Tracer

    nproc = len(os.sched_getaffinity(0))
    data = os.path.join(WORK, "data")
    corpus = tables = None
    gen_s = 0.0
    if args.trace or args.workload == "kg_batch":
        corpus, took = ensure_corpus(data, PKG_DIR, args.seed)
        gen_s += took
    if args.trace or args.workload == "contract_mix":
        path, meta, took = ensure_tables(data, PKG_DIR, args.seed)
        tables = w.Tables(path=path, meta=meta)
        gen_s += took
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{nproc}]",
        extra_conf={
            # keep the JVM's temp files inside the checkout too
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = w.Ctx(
            spark=spark,
            corpus=corpus,
            work_dir=run_dir,
            tmp_dir=tmp,
            nproc=nproc,
            reader=MetricsReader(spark),
            tables=tables,
        )
        tracer = Tracer()
        runner = Runner(args, ctx, tracer)
        metrics, raw = _measure(runner, ctx, gen_s)
        detail = {
            "provenance": _provenance(spark, corpus, tables, args, nproc),
            "errors": runner.errors,
            **raw,
        }
    finally:
        _stop(spark)

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}"
    if args.trace:
        tracer.dump(os.path.join(WORK, "traces", f"{stamp}.json"))
    units = PER_LAYER if args.trace else E2E
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{stamp}.json"), "w") as fh:
        json.dump({**result, "detail": detail}, fh, indent=1)
    print(json.dumps({"kgbench_detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
