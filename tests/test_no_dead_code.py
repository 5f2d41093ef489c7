"""Dead-helper guard (Spark-free): every undecorated top-level function
or class in ``versa_spark/`` must be referenced somewhere other than its
own definition.

A reference is a name load, an attribute access, an ``import`` of the
name, or a string constant equal to the name (``__all__`` entries and
``getattr`` dispatch).  References are collected from the library, the
tests, ``tools/``, the ``bench*.py`` scripts, ``__spark_entry__.py`` and
``kgbench/``.  Decorated definitions are exempt: the decorator registers
them (pipeline actions, fixtures, UDFs).
"""

from __future__ import annotations

import ast
import glob
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files(d):
    return sorted(glob.glob(os.path.join(_REPO, d, "**", "*.py"),
                            recursive=True))


def _names_used(node):
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            used.add(n.value)
    return used


def test_no_unreferenced_top_level_definitions():
    files = (_py_files("versa_spark") + _py_files("tests")
             + _py_files("tools") + _py_files("kgbench")
             + sorted(glob.glob(os.path.join(_REPO, "bench*.py")))
             + [os.path.join(_REPO, "__spark_entry__.py")])
    users = {}       # name -> {(path, index of the top-level statement)}
    candidates = []  # (path, index, definition)
    lib = os.path.join(_REPO, "versa_spark") + os.sep
    for path in files:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for i, stmt in enumerate(tree.body):
            for name in _names_used(stmt):
                users.setdefault(name, set()).add((path, i))
            if (path.startswith(lib)
                    and isinstance(stmt, (ast.FunctionDef,
                                          ast.AsyncFunctionDef,
                                          ast.ClassDef))
                    and not stmt.decorator_list):
                candidates.append((path, i, stmt))
    dead = [f"{os.path.relpath(path, _REPO)}:{d.lineno} {d.name}"
            for path, i, d in candidates
            if not users.get(d.name, set()) - {(path, i)}]
    assert not dead, ("top-level definitions with no reference outside "
                      "their own body (delete them):\n" + "\n".join(dead))
