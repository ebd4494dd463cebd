"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and an order-insensitive value hash; each result
line adds the wall time, the executed plan's Exchange / Python nodes and
the Janino compilations the build and collect made (0 when every generated
class came from the session's codegen cache).

The hash compares FORMATTED values, so an int column on one engine and a
float column on the other agree on it (``3`` vs ``3.0``) yet diverge
once converted through pandas; a query whose values agree but
whose column type classes differ is reported as ``[TYPE]``. Two empty
results agree on every hash and check nothing, so a query that returns 0
rows on both engines is reported as ``[EMPTY]`` and fails too."""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


_INT_TYPES = {
    "TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
}


def type_class(t) -> str:
    """int / float / ts / bool / other class of a Spark ``simpleString``
    or a DuckDB type name."""
    t = str(t).upper()
    if t in _INT_TYPES:
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def frame_summary(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return sorted_cols, len(rows), h, lines


def plan_facts(sdf) -> tuple[int, int, int]:
    """(Exchange, Generate, Python) node counts of an executed plan, read
    through the adaptive plan and its query stages; a reused exchange is
    not counted."""
    exchanges = generates = python = 0
    stack = [sdf._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        if p.nodeName() == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
        elif p.nodeName().endswith("QueryStage"):
            stack.append(p.plan())
        exchanges += p.nodeName() in ("Exchange", "BroadcastExchange")
        generates += p.nodeName() == "Generate"
        # every node that crosses into a Python worker lives in one package
        cls = p.getClass().getName()
        python += cls.startswith("org.apache.spark.sql.execution.python.")
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return exchanges, generates, python


def compilations(spark) -> int:
    """Janino compilations so far in the driver JVM; a codegen cache hit
    adds none."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def main(sf_dir: str, only: list[str]) -> int:
    import os

    # data-dependent oracles (sim_ivf_build's trained centroids) must be
    # resolved against the SAME directory the Spark side reads
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from open_source_legislation_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            c0, t0 = compilations(spark), time.perf_counter()
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            wall, compiles = time.perf_counter() - t0, compilations(spark) - c0
            exchanges, generates, python = plan_facts(sdf)
            facts = (
                f"{wall:.2f} s, {exchanges} exchanges, {generates} generates, "
                f"{python} python nodes, {compiles} compiles"
            )
        except Exception as e:  # noqa: BLE001
            print(f"[SPARK-ERR] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in osql:
            print(f"[ROWS-ONLY] {name}: {len(srows)} rows, {facts}")
            continue
        try:
            rel = con.sql(osql[name])
            dcols = rel.columns
            dtypes = dict(zip(dcols, rel.types))
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"[DUCK-ERR]  {name}: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        sc, sn, sh, sl = frame_summary(scols, srows)
        dc, dn, dh, dl = frame_summary(dcols, drows)
        if (sc, sn, sh) != (dc, dn, dh):
            failures += 1
            print(f"[MISMATCH] {name}: spark({sn} rows, {sc}) duck({dn} rows, {dc})")
            sset, dset = set(sl), set(dl)
            for line in sorted(sset - dset)[:3]:
                print(f"   spark-only: {line[:160]}")
            for line in sorted(dset - sset)[:3]:
                print(f"   duck-only:  {line[:160]}")
            continue
        bad = [
            f"{f.name}: spark {f.dataType.simpleString()} vs duck {dtypes[f.name]}"
            for f in sdf.schema.fields
            if type_class(f.dataType.simpleString()) != type_class(dtypes[f.name])
        ]
        if bad:
            failures += 1
            print(f"[TYPE] {name}: {bad}")
        elif sn == 0:
            failures += 1
            print(f"[EMPTY] {name}: 0 rows on both engines, {facts}")
        else:
            print(f"[OK] {name}: {sn} rows, {facts}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    raise SystemExit(1 if main(sf, only) else 0)
