"""Registry-shape guards for the driver contract (round-2 verdict #9).

The driver checks only the first ``DRIVER_WINDOW`` entries of ``QUERIES``
per round; round 2 silently evicted two green queries by inserting new keys
mid-dict. These tests make that class of drift a CI failure:

- every registered query has a DuckDB oracle OR an explicit rows-only
  annotation (no silently-unverifiable entries);
- every key that still lacks a green driver row sits inside the checked
  window;
- the oracle dict has no orphan entries;
- the queries' scratch dirs share one exit-time cleanup;
- a builder whose docstring names a package operator calls it.
"""

from __future__ import annotations

import ast
import pathlib
import re

import open_source_legislation_spark
from open_source_legislation_spark.queries import (
    DRIVER_WINDOW,
    NEVER_DRIVER_VERIFIED,
    ORACLE_SQL,
    QUERIES,
    ROWS_ONLY,
)


def test_every_query_has_oracle_or_rows_only_annotation():
    missing = set(QUERIES) - set(ORACLE_SQL) - ROWS_ONLY
    assert not missing, f"queries lacking an oracle or rows-only tag: {missing}"
    # rows-only is an explicit, minimal list — not a dumping ground
    assert ROWS_ONLY <= set(QUERIES)
    assert not (ROWS_ONLY & set(ORACLE_SQL))


def test_oracle_has_no_orphan_entries():
    orphans = set(ORACLE_SQL) - set(QUERIES)
    assert not orphans, f"oracle entries without a query: {orphans}"


def test_unverified_queries_sit_inside_driver_window():
    order = list(QUERIES)
    positions = {k: i for i, k in enumerate(order)}
    missing = [k for k in NEVER_DRIVER_VERIFIED if k not in positions]
    assert not missing, f"NEVER_DRIVER_VERIFIED keys not registered: {missing}"
    evicted = [
        k for k in NEVER_DRIVER_VERIFIED if positions[k] >= DRIVER_WINDOW
    ]
    assert not evicted, (
        f"queries without a green driver row sit past position "
        f"{DRIVER_WINDOW} and will never be checked: {evicted}"
    )


# DuckDB output types whose pandas conversion diverges from the Spark-side
# dtype (HUGEINT/DECIMAL render as float64)
ORACLE_TYPE_HAZARDS = ("HUGEINT", "UHUGEINT", "DECIMAL")


def test_no_oracle_output_column_is_hugeint():
    """DuckDB ``sum()`` over integers yields HUGEINT; the driver's pandas
    conversion renders HUGEINT as float64, so a Spark BIGINT ``3`` and an
    oracle ``3.000000`` hash-mismatch *only in the driver environment*
    (the sole cause of window_session's three-round red). DECIMAL is the
    same hazard class. Every oracle output column must DESCRIBE to a
    non-hazard type."""
    import duckdb

    from open_source_legislation_spark.queries import resolve_oracle_sql

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.001"
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    hazards = {}
    for name, sql in resolve_oracle_sql().items():
        desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        bad = [
            (c, ty)
            for c, ty, *_ in desc
            if any(h in ty.upper() for h in ORACLE_TYPE_HAZARDS)
        ]
        if bad:
            hazards[name] = bad
    assert not hazards, (
        f"hazard-typed oracle outputs (driver float64 trap): {hazards}"
    )


def test_run_tmpdir_shares_one_exit_callback():
    """Scratch dirs of the contract queries join the pipeline's spill-dir
    registry: three dirs add at most one atexit callback, and each dir
    stays on disk (and registered) until the exit-time removal."""
    import atexit
    import os

    from open_source_legislation_spark.plans.pipeline import _LIVE_SPILL_DIRS
    from open_source_legislation_spark.queries import _run_tmpdir

    before = atexit._ncallbacks()
    dirs = [_run_tmpdir("osl_test_tmpdir_") for _ in range(3)]
    assert atexit._ncallbacks() - before <= 1
    assert len(set(dirs)) == 3
    for d in dirs:
        assert os.path.isdir(d)
        assert d in _LIVE_SPILL_DIRS


_PKG_DIR = pathlib.Path(open_source_legislation_spark.__file__).parent
# the operator modules a builder's docstring may name: rules.* is the spec,
# which a row names without running it
_OP_MODULES = {
    f"{path.parent.name}.{path.stem}": {
        node.name
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }
    for sub in ("operators", "plans")
    for path in (_PKG_DIR / sub).glob("*.py")
    if path.stem != "__init__"
}
_DOC_NAMES = re.compile(r"\b(\w+)\.(\w+)\b|\b(operators|plans)/(\w+)\.py\s+(\w+)")


def _import_names(nodes) -> dict[str, str]:
    """Local name → ``<sub>.<module>[.<func>]`` for the relative imports
    among ``nodes``."""
    names = {}
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and node.level == 1 and node.module:
            for a in node.names:
                names[a.asname or a.name] = f"{node.module}.{a.name}"
    return names


def _docstring_operators(doc: str) -> set[str]:
    found = set()
    for m in _DOC_NAMES.finditer(doc):
        if m.group(1):
            mods = [f"{sub}.{m.group(1)}" for sub in ("operators", "plans")]
            func = m.group(2)
        else:
            mods, func = [f"{m.group(3)}.{m.group(4)}"], m.group(5)
        found |= {f"{mod}.{func}" for mod in mods if func in _OP_MODULES.get(mod, ())}
    return found


def _uncalled_docstring_operators(source: str) -> dict[str, list[str]]:
    """Per ``q_*`` builder, the operators its docstring names that its body
    never calls."""
    tree = ast.parse(source)
    top = _import_names(tree.body)
    out = {}
    for fn in tree.body:
        if not (isinstance(fn, ast.FunctionDef) and fn.name.startswith("q_")):
            continue
        named = _docstring_operators(ast.get_docstring(fn) or "")
        if not named:
            continue
        names = {**top, **_import_names(ast.walk(fn))}
        called = set()
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                if f.value.id in names:
                    called.add(f"{names[f.value.id]}.{f.attr}")
            elif isinstance(f, ast.Name) and f.id in names:
                called.add(names[f.id])
        if named - called:
            out[fn.name] = sorted(named - called)
    return out


def test_builders_call_the_operators_their_docstrings_name():
    """A builder whose docstring names a package operator runs it: a row
    that re-spells the operator over the TPC-H tables checks the copy, not
    the code the KG build runs."""
    source = (_PKG_DIR / "queries.py").read_text()
    assert "operators.graph.children_agg" in _docstring_operators(source)
    assert not _uncalled_docstring_operators(source)
    respelled = '''
from .operators import graph as graph_ops


def q_agg_children_collect(spark, sf_dir):
    """Child list per parent, as graph.children_agg builds it."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(F.collect_list("o_orderkey"))


def q_agg_siblings(spark, sf_dir):
    """Siblings (operators/graph.py siblings_agg)."""
    return graph_ops.siblings_agg(graph_ops.children_agg(_nodes(spark, sf_dir)))
'''
    assert _uncalled_docstring_operators(respelled) == {
        "q_agg_children_collect": ["operators.graph.children_agg"]
    }
