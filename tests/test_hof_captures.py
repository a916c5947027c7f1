"""No higher-order-function lambda in the package captures a computed
local of its enclosing function.

Spark evaluates a HOF lambda body once per array element, and neither
whole-stage codegen nor subexpression elimination reaches inside it
(HOFs are ``CodegenFallback``). A lambda that names a local Column
therefore re-evaluates that whole expression for every element (a
normalize lambda naming the norm of a 64-md5 vector costs 4,096 md5s
a row). Such values are bound once per row with ``functions.let.let`` and
reach the lambda as a lambda variable. Literal-only arrays (the
stopword lists) constant-fold, so capturing them is free and allowed.
Pure ``ast``: no Spark, no imports."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOFS = {"transform", "filter", "aggregate", "zip_with", "exists", "forall"}
SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _literal_array(node: ast.AST) -> bool:
    """``F.array(F.lit(a), …)`` or ``F.array(*[F.lit(w) for w in …])``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "array"
    ):
        return False
    for arg in node.args:
        if isinstance(arg, ast.Starred) and isinstance(arg.value, ast.ListComp):
            arg = arg.value.elt
        if not (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Attribute)
            and arg.func.attr == "lit"
        ):
            return False
    return True


def _own_nodes(fn: ast.AST):
    """Nodes of a function body, lambdas included, not descending into
    nested functions or classes."""
    todo = list(ast.iter_child_nodes(fn))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _locals(fn: ast.AST) -> dict[str, bool]:
    """name -> True when every binding of it is a literal-only array."""
    out: dict[str, bool] = {}
    for node in _own_nodes(fn):
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets, value = [node.target], node.value
        elif isinstance(node, ast.For):
            targets, value = [node.target], None
        else:
            continue
        literal = value is not None and _literal_array(value)
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name):
                    out[n.id] = out.get(n.id, True) and literal
    return out


def _captures(fn: ast.AST) -> list[tuple[int, str, bool]]:
    """(line, name, literal) for each HOF lambda naming a local of ``fn``."""
    local = _locals(fn)
    found = []
    for call in _own_nodes(fn):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr in HOFS
            and isinstance(call.func.value, ast.Name)
            and call.func.value.id == "F"
        ):
            continue
        for lam in call.args:
            if not isinstance(lam, ast.Lambda):
                continue
            inner = list(ast.walk(lam))
            params = {
                a.arg for n in inner if isinstance(n, ast.Lambda) for a in n.args.args
            }
            named = sorted(
                {
                    n.id
                    for n in inner
                    if isinstance(n, ast.Name) and n.id in local and n.id not in params
                }
            )
            found.extend((call.lineno, name, local[name]) for name in named)
    return sorted(found)


def scan(paths: list[str]) -> list[str]:
    """``path:line name`` per capture; literal-only arrays are tagged."""
    out = []
    for path in paths:
        for fn in ast.walk(ast.parse(Path(path).read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for line, name, literal in _captures(fn):
                    tag = " (literal)" if literal else ""
                    out.append(f"{os.path.relpath(path, ROOT)}:{line} {name}{tag}")
    return out


def test_no_hof_lambda_recomputes_a_local_per_element():
    paths = sorted(glob.glob(os.path.join(ROOT, "cli_rag_spark", "**", "*.py"), recursive=True))
    assert paths
    bad = [s for s in scan(paths) if not s.endswith("(literal)")]
    assert not bad, "bind these with functions.let.let:\n" + "\n".join(bad)


def test_scan_flags_a_captured_local_and_spares_literals(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def f(vec):\n"
        "    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))\n"
        "    sw = F.array(*[F.lit(w) for w in WORDS])\n"
        "    a = F.filter(vec, lambda t: F.array_contains(sw, t))\n"
        "    return F.transform(vec, lambda x: x / norm)\n"
        "def g(vec):\n"
        "    n = F.size(vec)\n"
        "    ok = let(vec, lambda v: F.transform(v, lambda x: x / v[0]))\n"
        "    return let(vec, lambda v: F.transform(v, lambda x: x / n))\n"
    )
    rel = os.path.relpath(src, ROOT)
    assert scan([str(src)]) == [f"{rel}:4 sw (literal)", f"{rel}:5 norm", f"{rel}:9 n"]
