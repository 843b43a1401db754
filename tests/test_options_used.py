"""Every tuning parameter of the model, oracle and sketch modules is set
by some caller.

The package ships one model configuration, one risk-band ladder and one
dedup threshold, and its oracles pin those values in their SQL. A
defaulted parameter that no caller sets to anything but its default is
an option with one value in use: the function should read the module
constant instead. This is an ``ast`` scan: for each defaulted parameter
of a function defined in :data:`MODULES`, some call in the package,
``tools/`` or ``tests/`` must pass it — by keyword or by position —
with source text that differs from the default's. Calls match by
function name; a name defined more than once in the scanned files is
skipped, since its calls cannot be told apart.

Exempt: the column-name adapters of the public operators (``*_col``,
``shard``, ``prefix``, ``name``, ``rank_name``, ``alloc_name``), which
describe the caller's schema; stream-trigger settings (``trigger*``);
and closure-binding defaults (``def cover(k, t=t)``), which capture a
loop variable rather than offer an option.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "real_time_fraud_revenue_intelligence_lakehouse_spark"

#: The model, oracle and sketch modules whose options are checked.
MODULES = (
    "ext/dedup.py",
    "ext/gbt.py",
    "ext/gbt_cv.py",
    "ext/gbt_deep.py",
    "ext/model_registry.py",
    "ext/multimodal.py",
    "ext/sampling.py",
    "ext/scaler.py",
    "ext/scoring.py",
    "ext/shap.py",
    "ext/similarity.py",
    "ext/text.py",
    "ext/training.py",
    "functions/scalars.py",
    "operators/ranking.py",
    "operators/skew.py",
    "operators/velocity.py",
    "plans/catalog_corpus2.py",
    "streaming/scoring.py",
    "streaming/stateful.py",
)

_ADAPTERS = {"shard", "prefix", "name", "rank_name", "alloc_name"}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _exempt(param: str, default: ast.expr, nested: bool) -> bool:
    if param.endswith("_col") or param in _ADAPTERS or param.startswith("trigger"):
        return True
    return nested and isinstance(default, ast.Name) and default.id == param


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    out = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
    out.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return out


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    return f.attr if isinstance(f, ast.Attribute) else None


def unset_options(
    defining: dict[str, str], calling: dict[str, str]
) -> list[str]:
    """``module:line function.param=default`` for each defaulted
    parameter of a function in the ``defining`` sources ({label: source})
    that no call in the ``calling`` sources sets to other text than its
    default. Names defined twice across both are skipped."""
    trees = {k: ast.parse(s) for k, s in calling.items()}
    count: dict[str, int] = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, _FUNCS):
                count[n.name] = count.get(n.name, 0) + 1
    passed: dict[str, list[tuple[ast.Call, str]]] = {}
    for label, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and (name := _call_name(n)):
                passed.setdefault(name, []).append((n, calling[label]))
    out = []
    for label, src in defining.items():
        tree = ast.parse(src)
        nested = {
            id(inner)
            for outer in ast.walk(tree)
            if isinstance(outer, _FUNCS)
            for inner in ast.walk(outer)
            if inner is not outer and isinstance(inner, _FUNCS)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, _FUNCS) or count.get(fn.name, 0) != 1:
                continue
            params = [p.arg for p in [*fn.args.posonlyargs, *fn.args.args]]
            if params and params[0] in ("self", "cls"):
                params = params[1:]
            for param, default in _defaults(fn).items():
                if _exempt(param, default, id(fn) in nested):
                    continue
                text = ast.get_source_segment(src, default)
                i = params.index(param) if param in params else None
                set_elsewhere = False
                for call, csrc in passed.get(fn.name, []):
                    vals = [k.value for k in call.keywords if k.arg == param]
                    if i is not None and i < len(call.args) and not any(
                        isinstance(x, ast.Starred) for x in call.args[: i + 1]
                    ):
                        vals.append(call.args[i])
                    if any(ast.get_source_segment(csrc, v) != text for v in vals):
                        set_elsewhere = True
                        break
                if not set_elsewhere:
                    out.append(f"{label}:{fn.lineno} {fn.name}.{param}={text}")
    return sorted(out)


def test_every_option_has_a_second_value_in_use():
    files = [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
    ]
    calling = {p.relative_to(ROOT).as_posix(): p.read_text() for p in sorted(files)}
    defining = {m: (PKG / m).read_text() for m in MODULES}
    unset = unset_options(defining, calling)
    assert unset == [], (
        f"{len(unset)} defaulted parameters with one value in use — read the "
        "module constant instead:\n" + "\n".join(unset)
    )


def test_scan_flags_default_only_options_and_honours_exemptions():
    """The scanner itself: a parameter passed only with its default's
    text (by keyword or position) or never passed is flagged; one set
    to other text is not; adapters, triggers and closure bindings are
    exempt; a name defined twice is skipped."""
    lib = (
        "K = 3\n"
        "def f(x, k=K, eps=0.1, depth=2, user_col='u', trigger_now=False):\n"
        "    def g(i, x=x):\n"
        "        return i, x\n"
        "    return g\n"
        "def twice(n=1):\n"
        "    return n\n"
    )
    use = (
        "f(1, K, depth=3)\n"
        "f(2, eps=0.1)\n"
        "def twice(n=2):\n"
        "    return n\n"
    )
    got = unset_options({"lib.py": lib}, {"lib.py": lib, "use.py": use})
    assert got == ["lib.py:2 f.eps=0.1", "lib.py:2 f.k=K"]
