"""Library surface guard: every top-level function or class defined in
``contessa_spark/`` or ``__spark_entry__.py`` must be referenced from
some tracked ``.py`` file (library, ``__spark_entry__.py``, scripts,
benchmark or tests) outside its own definition.

A reference is a name load, an attribute access or an import alias; a
mention in a docstring or comment does not count. Dead definitions
otherwise accumulate silently: each one still costs review, coverage
and refactoring effort while no code path can reach it.
"""

import ast
import os
import subprocess
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_py():
    out = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    return [p for p in out.splitlines() if os.path.exists(os.path.join(REPO, p))]


def _refs(node) -> Counter:
    c = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def test_no_unreferenced_top_level_definitions():
    total = Counter()
    defs = []  # (path, name, references inside the definition itself)
    for path in _tracked_py():
        with open(os.path.join(REPO, path), encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        library = path.startswith("contessa_spark/") or path == "__spark_entry__.py"
        for stmt in tree.body:
            refs = _refs(stmt)
            total.update(refs)
            if library and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((path, stmt.name, refs[stmt.name]))
    assert defs, "scan found no library definitions"
    dead = sorted(
        f"{path}: {name}" for path, name, own in defs if total[name] - own == 0
    )
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
