"""Every import in the package is used.

The project pins no linter (requirements.txt), so this is pyflakes'
F401 rule as an ``ast`` scan: a module-level imported name must be
read somewhere in its module — in code, in a string annotation, or in
``__all__`` — and a function-level import must be read inside its own
function. Import statements whose ``noqa`` codes include F401 are
exempt; those are the imports kept for their side effect (registering
queries, probing for an optional package) and the re-export blocks
other modules import through.
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


def _used_names(tree: ast.AST) -> set[str]:
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


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _own_imports(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """Import statements of ``scope`` itself: at module level, its
    top-level statements; in a function, every import in its body
    outside nested functions (those belong to the nested scope)."""
    if isinstance(scope, ast.Module):
        return [s for s in scope.body if isinstance(s, (ast.Import, ast.ImportFrom))]
    out, todo = [], list(scope.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out.append(node)
        elif not isinstance(node, (*_FUNCS, ast.Lambda, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(node))
    return out


def unused_imports(src: str) -> list[tuple[int, str]]:
    """(line, name) for each import of the module source ``src`` whose
    bound name is never read in its scope: the module for a
    module-level import, the enclosing function for a function-level
    one."""
    lines = src.splitlines()
    tree = ast.parse(src)
    scopes = [tree, *(n for n in ast.walk(tree) if isinstance(n, _FUNCS))]
    out = []
    for scope in scopes:
        used = _used_names(scope)
        for stmt in _own_imports(scope):
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            span = lines[stmt.lineno - 1 : stmt.end_lineno]
            if any(re.search(r"noqa:[\sA-Z0-9,]*F401", line) for line in span):
                continue
            out += [(stmt.lineno, n) for n in _bound_names(stmt) if n not in used]
    return sorted(out)


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


def test_scan_checks_function_level_imports_in_their_own_function():
    """A function-level import is flagged unless its own function
    (nested closures included) reads it; a read elsewhere in the
    module does not count, and the noqa exemption still holds."""
    src = (
        "import os\n"
        "def f():\n"
        "    import math\n"
        "    import json\n"
        "    import re  # noqa: F401\n"
        "    def g():\n"
        "        return json.dumps(1)\n"
        "    return g, os.sep\n"
        "def h():\n"
        "    import math\n"
        "    return math.pi\n"
        "def k():\n"
        "    if True:\n"
        "        import sys\n"
        "    return 0\n"
    )
    assert unused_imports(src) == [(3, "math"), (14, "sys")]
