"""Every ``markdown_lab_spark`` module must be reachable from a program
entry point, not only from its own tests.

The walk parses imports with ``ast`` (module-level, function-local and
relative ones) starting from the non-test entry points: the Spark entry,
both bench scripts, ``perfbench/*.py``, ``scripts/*.py`` and
``markdown_lab_spark.cli`` (run as ``python -m markdown_lab_spark.cli``).
Importing ``a.b.c`` also runs ``a/__init__.py`` and ``a/b/__init__.py``,
so parent packages count as reached with their children.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "markdown_lab_spark"


def _package_modules() -> dict:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imported_names(path: str, module: str | None, is_pkg: bool) -> set:
    """Every dotted name an import statement in ``path`` may load.

    ``from X import y`` yields both ``X`` and ``X.y`` because ``y`` may be
    a submodule; names that are not modules are dropped by the caller.
    """
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if module is None:
                    continue
                parts = module.split(".")
                # a package's own __init__ is level 1 for its children
                base = parts if is_pkg else parts[:-1]
                base = base[: len(base) - (node.level - 1)]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module
            names.add(src)
            names.update(f"{src}.{a.name}" for a in node.names)
    return names


def _with_parents(name: str) -> list:
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _reachable(mods: dict) -> set:
    roots = [
        os.path.join(ROOT, f)
        for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")
    ]
    roots += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    roots += sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    seen = set()
    todo = [f"{PKG}.cli"]
    for path in roots:
        todo.extend(_imported_names(path, None, False))
    while todo:
        name = todo.pop()
        for mod in _with_parents(name):
            if mod not in mods or mod in seen:
                continue
            seen.add(mod)
            path = mods[mod]
            is_pkg = path.endswith("__init__.py")
            todo.extend(_imported_names(path, mod, is_pkg))
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reachable(mods))
    assert not unreached, (
        "modules no entry point imports (only tests reach them): "
        + ", ".join(unreached)
    )
