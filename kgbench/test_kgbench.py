"""Tests of the benchmark itself: its metric parsing, its digest, its
declared metric list, and that a wrong reference makes ops fail.

    python3 -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile

import pytest

from kgbench import run
from kgbench.inputs import triple_digest_py
from kgbench.sqlmetrics import parse_value

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_parse_value_forms():
    assert parse_value("5,000", "sum") == (5000.0, None)
    assert parse_value("20.8 KiB", "size") == (20.8 * 1024, None)
    assert parse_value("1.3 s", "timing") == (1.3, None)
    total, spread = parse_value(
        "total (min, med, max (stageId: taskId))\n"
        "101.4 KiB (19.0 KiB, 25.2 KiB, 37.7 KiB (stage 2646.0: task 2784))",
        "size",
    )
    assert total == pytest.approx(101.4 * 1024)
    assert spread == pytest.approx((19.0 * 1024, 25.2 * 1024, 37.7 * 1024))
    total, spread = parse_value(
        "total (min, med, max (stageId: taskId))\n"
        "145 ms (27 ms, 43 ms, 45 ms (stage 0.0: task 2))",
        "nsTiming",
    )
    assert total == pytest.approx(0.145)
    assert spread == pytest.approx((0.027, 0.043, 0.045))


def test_digest_is_a_multiset_digest():
    rows = [("a", "cites", "b"), ("c", "child_of", None), ("a", "cites", "b")]
    assert triple_digest_py(rows) == triple_digest_py(list(reversed(rows)))
    assert triple_digest_py(rows) != triple_digest_py(rows[:2])
    assert triple_digest_py(rows) != triple_digest_py(rows[:2] + [("a", "cites", "c")])
    # a null is not the empty string
    assert triple_digest_py([("c", "child_of", None)]) != triple_digest_py(
        [("c", "child_of", "")]
    )


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.fixture(scope="module")
def ctx():
    from open_source_legislation_spark.session import get_spark

    from kgbench import workloads as w
    from kgbench.inputs import ensure_corpus
    from kgbench.sqlmetrics import MetricsReader
    from kgbench.tables import ensure_tables

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    with tempfile.TemporaryDirectory() as tmp:
        saved = tempfile.tempdir
        tempfile.tempdir = tmp  # the pipeline spills here; leak checks look here
        corpus, _ = ensure_corpus(
            os.path.join(tmp, "data"),
            os.path.join(ROOT, "open_source_legislation_spark"),
            seed=7,
            corpus_args={"n_turns_target": 1500, "hot_fraction": 0.1, "dup_fraction": 0.01},
        )
        path, meta, _ = ensure_tables(
            os.path.join(tmp, "data"), os.path.join(ROOT, "open_source_legislation_spark"), 7
        )
        spark = get_spark(app_name="kgbench-test", master="local[2]")
        try:
            yield w.Ctx(
                spark=spark,
                corpus=corpus,
                work_dir=tmp,
                tmp_dir=tmp,
                nproc=2,
                reader=MetricsReader(spark),
                tables=w.Tables(path=path, meta=meta),
            )
        finally:
            spark.stop()
            tempfile.tempdir = saved


def _with_meta(ctx, **changes):
    corpus = dataclasses.replace(ctx.corpus, meta={**ctx.corpus.meta, **changes})
    return dataclasses.replace(ctx, corpus=corpus)


def test_ops_pass_against_the_true_reference(ctx):
    from kgbench import workloads as w

    assert w.batch_op(ctx, full_check=True)["wall_s"] > 0
    assert w.batch_op(ctx)["wall_s"] > 0
    assert w.ckpt_op(ctx, "ok", full_check=True)["wall_s"] > 0
    assert w.query_op(ctx, "mm_decode_real", full_check=True)["wall_s"] > 0
    assert w.query_op(ctx, "mm_decode_real")["wall_s"] > 0


def test_corrupted_reference_digest_fails_ops(ctx):
    from kgbench import workloads as w

    bad_digest = str(int(ctx.corpus.meta["ref_triples_digest"]) + 1)
    bad = _with_meta(ctx, ref_triples_digest=bad_digest)
    with pytest.raises(w.OpFailed, match="digest"):
        w.batch_op(bad, full_check=True)
    with pytest.raises(w.OpFailed, match="digest"):
        w.ckpt_op(bad, "bad", full_check=True)
    # the per-op row check needs no digest: a wrong count alone fails it
    off_by_one = _with_meta(ctx, ref_triples=ctx.corpus.meta["ref_triples"] + 1)
    with pytest.raises(w.OpFailed, match="rows"):
        w.batch_op(off_by_one)
    # a contract query is checked against its own DuckDB reference digest
    refs = dict(ctx.tables.meta["refs"])
    refs["src_fetch_retry"] = {**refs["src_fetch_retry"], "md5": "0" * 32}
    bad_tables = dataclasses.replace(ctx.tables, meta={**ctx.tables.meta, "refs": refs})
    with pytest.raises(w.OpFailed, match="digest"):
        w.query_op(dataclasses.replace(ctx, tables=bad_tables), "src_fetch_retry", full_check=True)
    # and the runner counts such an op as failed
    runner = run.Runner(args=None, ctx=bad, tracer=None)
    assert runner.attempt(w.batch_op, bad, full_check=True) is None
    assert (runner.attempted, runner.failed) == (1, 1)
