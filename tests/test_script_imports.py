"""Every ``cli_rag_spark`` import in the hand-run scripts, the benchmark
harness and bench.py names something the package defines. Nothing runs
those files in the suite, so a renamed or deleted operator would
otherwise break them silently. Pure ``ast``: no Spark, no imports."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _module_path(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at top level, including in if/try blocks."""
    names: set[str] = set()
    todo = list(ast.parse(Path(path).read_text()).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try)):
            todo.extend(node.body + node.orelse)
            todo.extend(getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                todo.extend(h.body)
    return names


def test_package_imports_in_scripts_resolve():
    files = sorted(
        glob.glob(os.path.join(ROOT, "scripts", "*.py"))
        + glob.glob(os.path.join(ROOT, "ragbench", "*.py"))
        + [os.path.join(ROOT, "bench.py")]
    )
    checked, broken = 0, []
    for path in files:
        for node in ast.walk(ast.parse(Path(path).read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                wanted = [(node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names]
            else:
                continue
            for module, name in wanted:
                if not module or module.split(".")[0] != "cli_rag_spark":
                    continue
                checked += 1
                mod_path = _module_path(module)
                if mod_path is None:
                    broken.append(f"{path}: no module {module}")
                elif (
                    name is not None
                    and name not in _top_level_names(mod_path)
                    and _module_path(f"{module}.{name}") is None
                ):
                    broken.append(f"{path}: {module} has no {name}")
    assert checked > 0
    assert not broken, "\n".join(broken)
