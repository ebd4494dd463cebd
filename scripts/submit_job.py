"""spark-submit entry point for the KG-construction job (north rule: "runs
via spark-submit --py-files on a multi-executor cluster").

Package + submit:

    cd /root/repo && python -m zipfile -c /tmp/osl_spark.zip \
        open_source_legislation_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/osl_spark.zip \
        scripts/submit_job.py \
        --input  /path/to/transcripts_parquet_or_iceberg \
        --entity-dict /path/to/entity_dict_parquet \
        --out    /path/to/output \
        --run-id run-2026-08-17 \
        --buckets 64

The job is resumable: re-submitting with the same ``--out``/``--run-id``
skips buckets whose manifest rows are already committed
(``plans/checkpoint.py`` — the Spark re-expression of the reference's
"WHERE embedding IS NULL ... LIMIT batch" resume loop,
processingHelpers.py:55-76). Per-bucket lineage + metrics land in
``<out>/_manifest`` and ``<out>/_metrics``.

In the sandbox (no cluster) the same script runs under
``spark-submit --master 'local[8]'`` — exercised by
tests/test_submit_job.py.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts table path")
    p.add_argument(
        "--entity-dict",
        default="synth",
        help="canonical entity dictionary parquet path, or 'synth' for the "
        "deterministic built-in dictionary",
    )
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--run-id", default=time.strftime("run-%Y%m%d%H%M%S"))
    p.add_argument("--buckets", type=int, default=8, help="resume granularity")
    p.add_argument(
        "--fail-after",
        type=int,
        default=None,
        help="abort after N buckets (kill-and-resume testing)",
    )
    args = p.parse_args(argv)

    # imports deferred until after spark-submit has placed --py-files on the
    # executor/driver python path
    from open_source_legislation_spark import schemas, synth
    from open_source_legislation_spark.plans.checkpoint import CheckpointedRunner
    from open_source_legislation_spark.session import get_spark
    from open_source_legislation_spark.sources.io import read_transcripts

    # master comes from spark-submit; fall back to the sandbox default only
    # when launched as a bare python script
    spark = get_spark(app_name="osl-kg-submit", master="")

    transcripts = read_transcripts(spark, args.input)
    if args.entity_dict == "synth":
        entity_dict = spark.createDataFrame(
            synth.make_entity_dictionary(), schema=schemas.ENTITY_DICTIONARY
        )
    else:
        entity_dict = spark.read.parquet(args.entity_dict)

    runner = CheckpointedRunner(
        spark,
        out_dir=args.out,
        run_id=args.run_id,
        num_buckets=args.buckets,
    )
    t0 = time.time()
    processed = runner.run(transcripts, entity_dict, fail_after=args.fail_after)
    wall = time.time() - t0
    n_triples = runner.triples().count()
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "buckets_processed": processed,
                "buckets_total": args.buckets,
                "triples": n_triples,
                "wall_sec": round(wall, 3),
                "triples_per_sec": round(n_triples / wall, 1) if wall else None,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
