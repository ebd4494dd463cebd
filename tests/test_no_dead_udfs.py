"""Every module-level pandas UDF in the package has a caller: a UDF nothing
references is dead code that still costs an import-time registration and a
reader's attention."""

from __future__ import annotations

import ast
import pathlib

import open_source_legislation_spark

_PKG = pathlib.Path(open_source_legislation_spark.__file__).parent


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
