"""Every module-level import in the package is used.

The project pins no linter (requirements.txt), so this is pyflakes'
F401 rule as an ``ast`` scan: a module-level imported name must be
read somewhere in its module — in code, in a string annotation, or in
``__all__``. Import statements whose ``noqa`` codes include F401 are
exempt; those are the imports kept for their side effect (registering
queries) and the re-export blocks other modules import through.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "real_time_fraud_revenue_intelligence_lakehouse_spark"
)


def _bound_names(stmt: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(stmt, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in stmt.names]
    return [a.asname or a.name for a in stmt.names if a.name != "*"]


def _used_names(tree: ast.Module) -> set[str]:
    used: set[str] = set()
    annotations: list[ast.expr] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            every = [*args.posonlyargs, *args.args, *args.kwonlyargs]
            every += [a for a in (args.vararg, args.kwarg) if a is not None]
            annotations += [a.annotation for a in every if a.annotation]
            if node.returns is not None:
                annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    for ann in annotations:
        for const in ast.walk(ann):
            if isinstance(const, ast.Constant) and isinstance(const.value, str):
                used |= {
                    n.id for n in ast.walk(ast.parse(const.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
    return used


def unused_imports(src: str) -> list[tuple[int, str]]:
    """(line, name) for each module-level import of the module source
    ``src`` whose bound name is never read."""
    lines = src.splitlines()
    tree = ast.parse(src)
    used = _used_names(tree)
    out = []
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        span = lines[stmt.lineno - 1 : stmt.end_lineno]
        if any(re.search(r"noqa:[\sA-Z0-9,]*F401", line) for line in span):
            continue
        out += [(stmt.lineno, n) for n in _bound_names(stmt) if n not in used]
    return out


def test_package_modules_import_nothing_unused():
    modules = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")
    assert modules
    unused = [
        f"{p.relative_to(PKG)}:{line} {name}"
        for p in modules
        for line, name in unused_imports(p.read_text())
    ]
    assert unused == [], unused


def test_scan_flags_an_unused_import_and_honours_noqa():
    """The scanner itself: an unread import is flagged; one read only
    in a string annotation or ``__all__`` is not; a statement whose
    ``noqa`` codes include F401 is exempt."""
    src = (
        "from __future__ import annotations\n"
        "import os\n"
        "from json import (  # noqa: F401  (re-exports)\n"
        "    dumps,\n"
        ")\n"
        "from typing import Any, Callable\n"
        "import re  # noqa: E402,F401\n"
        "from math import pi\n"
        "import os.path as osp\n"
        "__all__ = ['pi']\n"
        "def f(x: 'Callable[[], int]') -> None:\n"
        "    return osp.sep\n"
    )
    assert unused_imports(src) == [(2, "os"), (6, "Any")]
