"""Sources & sinks.

The reference's sources are HTTP/HTML/XML/JSON acquisition plus a Postgres
row sink (SURVEY §2.1); our engine takes *landed* tables as input and writes
analytic tables. Iceberg is the design target (``writeTo(...).append()``,
MERGE INTO for the upsert sink); the package ships no Iceberg runtime, so
every sink here writes parquet with the schemas and partitioning an
Iceberg table would get — the swap is isolated here (SURVEY §7.4.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import schemas


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced transcript scan (never inference — SURVEY §1.3).

    Column pruning + predicate pushdown reach the parquet scan because the
    schema is explicit and the DataFrame is otherwise untouched.
    """
    return spark.read.schema(schemas.TRANSCRIPTS).parquet(path)


def read_toc_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source (SURVEY §2.1 src_toc_file — the
    reference's table-of-contents flat-file reader): ``spark.read.text``
    gives one row per line in column ``value``; parsing stays declarative
    downstream so pruning/pushdown still apply."""
    return spark.read.text(path)


def write_table(
    df: DataFrame,
    base_dir: str,
    name: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> str:
    """Partitioned parquet sink (Iceberg-append analog of the reference's
    ``pydantic_insert`` row loop, utilityFunctions.py:411-454 — one
    partitioned append instead of one INSERT per row)."""
    path = os.path.join(base_dir, name)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def write_snapshot(
    df: DataFrame, base_dir: str, name: str
) -> int:
    """Snapshot-versioned write — the Iceberg time-travel analog (the
    design target writes ``writeTo(...).append()`` and reads
    ``VERSION AS OF``; reference history is one mutable Postgres table).
    Each write lands a NEW immutable directory ``<name>/v=<n>/`` and
    appends its id to a ``_snapshots`` manifest; old snapshots are never
    rewritten, so concurrent readers of an existing version are unaffected
    and a reader of version n scans exactly one directory — the same
    directory-level pruning the checkpoint runner's bucket layout uses.
    Commit protocol (real Iceberg serializes commits via atomic metadata
    swap; the parquet stand-in approximates it): the version DIRECTORY is
    claimed with an atomic ``os.mkdir`` BEFORE any data is written, so two
    racing writers can never overwrite each other — the loser's mkdir
    fails and it retries with the next id — and the manifest append stays
    the publish point (write dir first, publish last).
    Returns the new snapshot id."""
    root = os.path.join(base_dir, name)
    manifest = os.path.join(root, "_snapshots")
    os.makedirs(root, exist_ok=True)
    existing = []
    if os.path.exists(manifest):
        with open(manifest) as fh:
            existing = [int(x) for x in fh.read().split() if x]
    version = (max(existing) + 1) if existing else 1
    while True:
        vdir = os.path.join(root, f"v={version}")
        try:
            os.mkdir(vdir)  # atomic claim: fails on collision
            break
        except FileExistsError:
            # a racing (or crashed, unpublished) writer holds this id
            version += 1
    # append, NOT overwrite: overwrite would delete-and-recreate the just
    # claimed directory, reopening the race window the mkdir closed (a
    # second writer could re-claim mid-delete and both would interleave
    # part files). The claimed dir is empty and exclusively ours, so
    # append lands exactly this DataFrame's files.
    df.write.mode("append").parquet(vdir)
    with open(manifest, "a") as fh:
        fh.write(f"{version}\n")
    return version


def read_snapshot(
    spark: SparkSession, base_dir: str, name: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: ``version=None`` → latest committed snapshot.
    Reads only the requested snapshot's directory — no scan over history."""
    root = os.path.join(base_dir, name)
    manifest = os.path.join(root, "_snapshots")
    with open(manifest) as fh:
        versions = [int(x) for x in fh.read().split() if x]
    if len(set(versions)) != len(versions):
        # a double-committed id means the mkdir claim was bypassed (e.g.
        # manual manifest edits) — the data under it is an undefined
        # mixture; refuse rather than silently serve it
        dupes = sorted({v for v in versions if versions.count(v) > 1})
        raise ValueError(f"corrupt snapshot manifest {manifest}: duplicate ids {dupes}")
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {root}")
    v = version if version is not None else max(versions)
    if v not in versions:
        raise ValueError(f"snapshot v={v} not committed (have {versions})")
    return spark.read.parquet(os.path.join(root, f"v={v}"))


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    base_dir: str,
    name: str,
    key: str,
) -> str:
    """Keyed upsert (reference ``pydantic_upsert``: try insert, on conflict
    update — utilityFunctions.py:582-612). Parquet fallback: anti-join the
    existing rows against update keys, union, rewrite — the same result
    Iceberg ``MERGE INTO`` produces transactionally."""
    path = os.path.join(base_dir, name)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(updates.select(key), key, "left_anti")
        merged = keep.unionByName(updates)
    else:
        merged = updates
    # materialize before overwrite (parquet has no snapshot isolation)
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(path)
    return path
