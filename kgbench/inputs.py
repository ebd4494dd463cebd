"""Seeded benchmark inputs and their reference digests, cached on disk.

The corpus is ``synth.make_transcripts(seed, **CORPUS_ARGS)`` written as
parquet; the program under test only ever receives that parquet. The
reference is ``oracle.run_oracle`` over the same pandas frame, reduced to
an order-independent digest of the ``(subj, pred, obj)`` multiset plus the
node count. Both are computed once per (generator arguments, seed,
generator source) and reused by every later run in the same checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

# Turns per corpus. The one hot conversation holds hot_fraction of them and
# dup_fraction of the rows are exact duplicates (the synth defaults).
CORPUS_ARGS = {"n_turns_target": 20_000, "hot_fraction": 0.10, "dup_fraction": 0.01}
# Part files per corpus: one file would give the scan a single task.
N_FILES = 8

# Sources whose change invalidates a cached corpus or reference digest.
_KEY_SOURCES = ("synth.py", "oracle.py", "rules.py")
_NULL = "\x00null"
_SEP = "\x1f"


@dataclass(frozen=True)
class Corpus:
    path: str  # parquet directory handed to the program
    seed: int
    meta: dict  # generator args, input digest and size, reference digests


def triple_digest_py(rows) -> tuple[int, int]:
    """(count, sum of 60-bit md5 prefixes) over ``(subj, pred, obj)`` rows:
    equal multisets give equal digests in any order."""
    n = total = 0
    for row in rows:
        key = _SEP.join(_NULL if _is_null(v) else str(v) for v in row)
        total += int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)
        n += 1
    return n, total


def triple_digest_spark(df) -> tuple[int, int]:
    """The same digest as :func:`triple_digest_py`, as one Spark aggregate."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        _SEP, *[F.coalesce(F.col(c), F.lit(_NULL)) for c in ("subj", "pred", "obj")]
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"]) if row["h"] is not None else 0


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


def _source_key(pkg_dir: str) -> str:
    h = hashlib.sha1()
    for name in _KEY_SOURCES:
        with open(os.path.join(pkg_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(path)):
        if fn.endswith(".parquet"):
            with open(os.path.join(path, fn), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_corpus(
    cache_dir: str, pkg_dir: str, seed: int, corpus_args: dict = CORPUS_ARGS
) -> tuple[Corpus, float]:
    """Return the cached corpus for ``seed``, building it first if needed.

    The second value is the seconds spent generating (0.0 on a cache hit),
    which set-up time excludes. A build goes to a temporary directory that
    is renamed into place, so an interrupted build is never reused."""
    args = dict(corpus_args)
    key = "transcripts_s{}_n{}_h{}_d{}_f{}_{}".format(
        seed,
        args["n_turns_target"],
        args["hot_fraction"],
        args["dup_fraction"],
        N_FILES,
        _source_key(pkg_dir),
    )
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return Corpus(path=path, seed=seed, meta=json.load(fh)), 0.0

    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_source_legislation_spark import oracle, synth

    t0 = time.perf_counter()
    pdf = synth.make_transcripts(seed=seed, **args)
    ref = oracle.run_oracle(pdf, synth.make_entity_dictionary())
    n_triples, h_triples = triple_digest_py(
        ref["triples"][["subj", "pred", "obj"]].itertuples(index=False, name=None)
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # the session time zone is UTC, so naive synth timestamps are UTC
    # instants; an explicit tz makes parquet store them as Spark TIMESTAMP
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    for i in range(N_FILES):
        part = pa.Table.from_pandas(pdf.iloc[i::N_FILES], schema=schema, preserve_index=False)
        pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))
    meta = {
        "generator": "synth.make_transcripts",
        "generator_args": args,
        "seed": seed,
        "source_key": key.rsplit("_", 1)[-1],
        "rows": int(len(pdf)),
        "input_bytes": tree_bytes(tmp),
        "input_sha256": _dir_digest(tmp),
        "ref_triples": n_triples,
        "ref_triples_digest": str(h_triples),
        "ref_nodes": int(len(ref["nodes"])),
        "build_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return Corpus(path=path, seed=seed, meta=meta), time.perf_counter() - t0
