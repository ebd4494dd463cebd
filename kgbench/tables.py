"""Seeded query-contract tables and their DuckDB reference digests.

The contract queries read a TPC-H-style star schema plus ``events``,
``documents`` and ``embeddings`` tables from one directory of
``<name>.parquet`` files. This module writes such a directory from a seed,
with the column names, types and value ranges the queries expect, and
runs every query's ``ORACLE_SQL`` over it on DuckDB once. Both are cached
per (sizes, seed, generator source), like the transcript corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import time

import numpy as np

from .inputs import tree_bytes

# Rows per table: about a tenth of the repository's sf0.01 test tables,
# so one pass over every query stays within a few seconds of executor work.
SIZES = {"part": 400, "orders": 1_500, "lineitem": 6_000, "events": 2_000,
         "documents": 300, "embeddings": 300}
TABLES = tuple(SIZES)

# The contract queries of contract_mix: the ones ROADMAP item 4 targets
# (set-similarity dedup, boilerplate removal, triangle counting) and one
# query each for the remaining query layers (LSH similarity, media decode,
# the retrying fetch source). dedup_cluster_keep and graph_pagerank are
# left out to keep a run short; the first runs the same LSH pair operator
# as dedup_minhash_lsh, the second the same graph layer as graph_triangles.
CONTRACT_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ta_boilerplate",
    "graph_triangles",
    "sim_ann_lsh",
    "mm_decode_real",
    "src_fetch_retry",
)
# the queries whose exchange bytes the traced run reports
SHUFFLE_QUERIES = CONTRACT_QUERIES[:4]

_WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector dup"
).split()
_LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SOURCE_FILES = ("queries.py",)


def _dates(rng, n: int, start: dt.date, days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> dict:
    """Word salad over the queries' small vocabulary; about one document in
    seven is a near copy of an earlier one, so the dedup operators find
    pairs and clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs, p = zip(*_LANGS)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(langs, n, p=p)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32),
    }


def generate(seed: int, sizes: dict = SIZES) -> dict:
    """Column dicts per table, a pure function of ``seed`` and ``sizes``."""
    rng = np.random.default_rng(seed)
    n_part, n_ord, n_li = sizes["part"], sizes["orders"], sizes["lineitem"]
    n_ev = sizes["events"]
    part = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part{k}" for k in rng.integers(0, 64, n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_PART_TYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    }
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n_ord // 10), n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord)),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": list(rng.choice(("F", "O"), n_li)),
        "l_shipdate": _dates(rng, n_li, dt.date(1995, 1, 2), 2500),
    }
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    return {
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, sizes["documents"]),
        "embeddings": _embeddings(rng, sizes["embeddings"]),
    }


def _write(tables: dict, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, cols in tables.items():
        arrays = {}
        for col, vals in cols.items():
            if col == "embedding":
                arrays[col] = pa.array([list(v) for v in vals], type=pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(vals)
        pq.write_table(pa.table(arrays), os.path.join(out, f"{name}.parquet"))


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def frame_digest(cols: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, md5 of the sorted normalized rows):
    equal results give equal digests whatever their row or column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return [cols[i] for i in order], len(lines), h


def _source_key(pkg_dir: str) -> str:
    h = hashlib.sha1(open(__file__, "rb").read())
    for name in _SOURCE_FILES:
        with open(os.path.join(pkg_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def ensure_tables(cache_dir: str, pkg_dir: str, seed: int) -> tuple[str, dict, float]:
    """The cached table directory for ``seed`` and its reference digests,
    building both first if needed: ``(path, meta, seconds spent)``.

    The reference of each query is its ``ORACLE_SQL`` run on DuckDB over
    the same files. Lazy oracles (``sim_ivf_build`` trains its model on the
    data, ``src_fetch_retry`` writes its fixture files) resolve against
    this directory."""
    key = f"tables_s{seed}_{_source_key(pkg_dir)}"
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return path, json.load(fh), 0.0

    import duckdb

    from open_source_legislation_spark.queries import resolve_oracle_sql

    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write(generate(seed), tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    # the oracles resolve against the final directory: src_fetch_retry's
    # expected URLs embed the fixture dir, which is keyed by this path
    oracle_sql = resolve_oracle_sql(path)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
    refs = {}
    for name in CONTRACT_QUERIES:
        rel = con.sql(oracle_sql[name])
        cols, n, h = frame_digest(rel.columns, rel.fetchall())
        refs[name] = {"cols": cols, "rows": n, "md5": h}
    con.close()
    meta = {
        "generator": "kgbench.tables.generate",
        "sizes": SIZES,
        "seed": seed,
        "input_bytes": tree_bytes(path),
        "input_sha256": {
            t: hashlib.sha256(open(os.path.join(path, f"{t}.parquet"), "rb").read()).hexdigest()
            for t in TABLES
        },
        "refs": refs,
        "build_s": time.perf_counter() - t0,
    }
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh, indent=1)
    os.rename(meta_path + ".tmp", meta_path)
    return path, meta, time.perf_counter() - t0
