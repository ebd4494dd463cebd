"""Every module-level pandas UDF in the package has a caller: a UDF nothing
references is dead code that still costs an import-time registration and a
reader's attention. Likewise every public package name has a reference
outside the tests, unless it is a test oracle or documented API."""

from __future__ import annotations

import ast
import os
import pathlib

import open_source_legislation_spark

_PKG = pathlib.Path(open_source_legislation_spark.__file__).parent
_REPO = pathlib.Path(__file__).resolve().parents[1]


def _is_pandas_udf(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
    return name == "pandas_udf"


def test_every_module_level_pandas_udf_is_referenced():
    udfs: dict[str, str] = {}
    used: set[str] = set()
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and any(
                _is_pandas_udf(d) for d in node.decorator_list
            ):
                udfs[node.name] = str(path.relative_to(_PKG))
        # a definition is a FunctionDef, never a Name/Attribute, so only
        # genuine references land here
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    assert udfs, "no module-level pandas UDFs found — the scan is broken"
    dead = {name: where for name, where in udfs.items() if name not in used}
    assert not dead, f"unreferenced pandas UDFs: {dead}"


# Public names that may lack a non-test reference, each with its reason. A
# name leaves the list once code outside the tests references it.
_KEEP = {
    "ALIAS_EDGES": "input schema of the alias graph (FIXTURES.md §3)",
    "ROWS_ONLY": "contract-registry annotation, checked by test_contract_registry",
    "DRIVER_WINDOW": "contract-registry annotation, checked by test_contract_registry",
    "NEVER_DRIVER_VERIFIED": "contract-registry annotation, checked by test_contract_registry",
    "embedding_near_dup_bruteforce": "brute-force oracle of test_dedup_scale",
    "null_parent_violations": "graph invariant, used by test_graph and the verify recipe",
    "id_pop_level": "Python twin of the pop-level rule that SURVEY.md names",
    "id_current_level": "Python twin of the current-level rule that SURVEY.md names",
    "precision_recall": "P/R against the oracle, called by the verify recipe",
    "make_alias_edges": "synthetic alias-graph generator of the canonicalize fixture",
    "incremental_extract": "streaming front end, run by test_streaming",
}


def _public_defs() -> dict[str, str]:
    defs: dict[str, str] = {}
    for path in sorted(_PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                names = []
            for name in names:
                if not name.startswith("_"):
                    defs[name] = str(path.relative_to(_PKG))
    return defs


def _non_test_references() -> set[str]:
    used: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(_REPO):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and d not in ("tests", "__pycache__")
        ]
        for fn in filenames:
            if not fn.endswith(".py") or fn.startswith("test_"):
                continue
            path = pathlib.Path(dirpath, fn)
            for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
                # Load context only: an assignment target is a definition
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                    used.add(node.attr)
                elif isinstance(node, ast.alias):
                    used.add(node.name.rsplit(".", 1)[-1])
    return used


def test_every_public_package_name_has_a_non_test_reference():
    defs = _public_defs()
    assert "run_pipeline" in defs, "no public package names found — the scan is broken"
    stale = set(_KEEP) - set(defs)
    assert not stale, f"keep-list names no longer defined: {sorted(stale)}"
    used = _non_test_references()
    referenced = sorted(set(_KEEP) & used)
    assert not referenced, f"keep-list names with a non-test reference: {referenced}"
    dead = {
        name: where
        for name, where in defs.items()
        if name not in used and name not in _KEEP
    }
    assert not dead, f"public names only tests (or nothing) reference: {dead}"
