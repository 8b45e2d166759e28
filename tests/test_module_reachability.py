"""Every ``markdown_lab_spark`` module, function and method must be
reachable from a program entry point, not only from its own tests.

The walk parses imports with ``ast`` (module-level, function-local and
relative ones) starting from the non-test entry points: the Spark entry,
both bench scripts, ``perfbench/*.py``, ``scripts/*.py`` and
``markdown_lab_spark.cli`` (run as ``python -m markdown_lab_spark.cli``).
Importing ``a.b.c`` also runs ``a/__init__.py`` and ``a/b/__init__.py``,
so parent packages count as reached with their children. The function
level is described above ``EXEMPT`` below.
"""

from __future__ import annotations

import ast
import glob
import io
import os
import re
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "markdown_lab_spark"


def _package_modules(root: str = ROOT) -> dict:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
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


# --- function level ---------------------------------------------------------
#
# A function or method counts as reached when its name appears as a NAME
# token, or inside an identifier string (``"a.b"`` yields ``a`` and ``b``),
# in a non-test file outside its own body. A module-level function's name
# counts only in its own module or in a file that imports that module (or
# ``module.name``), so a dead ``f`` is not kept alive by another module's
# live ``f``; method names still match anywhere, since a method is called
# through an object whose type the scan does not know. Comments and
# docstrings are not tokens of either kind. Bodies of functions found
# unreached stop counting, and the scan repeats until nothing new drops
# out.

_IDENT = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*\Z")

# Kept although only tests call them. A key is a whole module or package,
# or ``module:qualname``; an exempt function's body counts as reached, so
# the private helpers it calls need no entry of their own.
EXEMPT = {
    f"{PKG}.oracle": "frozen reference port the conversion goldens compare against",
    f"{PKG}.plans.checks": "plan-assertion helpers for the plan-shape tests",
    f"{PKG}.errors": "typed error hierarchy; to_dict is its serialised form",
    f"{PKG}.frontier.crawler:host_rules_from_dict": "test helper that builds robots rules from a dict",
    f"{PKG}.functions.multimodal:native_image_backend": "reference image backend the pure-Python decoders are compared against",
    f"{PKG}.functions.jpeg:encode_jpeg_progressive": "builds progressive inputs for the JPEG decoder the image pipeline runs",
    f"{PKG}.functions.jpeg:encode_jpeg_gray12": "builds 12-bit inputs for the JPEG decoder the image pipeline runs",
    f"{PKG}.functions.jpeg_arith:encode_jpeg_arith": "builds arithmetic-coded inputs for the JPEG decoder the image pipeline runs",
    f"{PKG}.functions.jpeg_arith:encode_jpeg_arith_progressive": "builds progressive arithmetic inputs for the JPEG decoder the image pipeline runs",
    f"{PKG}.functions.tiff:encode_tiff": "builds inputs for the TIFF decoder",
    f"{PKG}.functions.tiff:packbits_encode": "builds PackBits inputs for the TIFF decoder",
    f"{PKG}.functions.lz4_codec:encode_lz4_block": "builds inputs for the LZ4 block decoder",
    f"{PKG}.functions.lz4_codec:encode_lz4_frame": "builds inputs for the LZ4 frame decoder",
    f"{PKG}.functions.lz4_codec:encode_lz4_frame_store": "builds stored-block inputs for the LZ4 frame decoder",
    f"{PKG}.functions.zstd_codec:encode_zstd_store": "builds raw-block inputs for the zstd decoder",
    f"{PKG}.sources.warc:encode_warc": "builds inputs for the WARC reader",
}


def _program_files(root: str = ROOT) -> list:
    files = sorted(glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True))
    files += [os.path.join(root, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    files += sorted(glob.glob(os.path.join(root, "perfbench", "*.py")))
    files += sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    return files


def _name_tokens(src: str) -> list:
    """``(name, line)`` for every NAME token and identifier-string part."""
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            out.append((tok.string, tok.start[0]))
        elif tok.type == tokenize.STRING:
            try:
                val = ast.literal_eval(tok.string)
            except (ValueError, SyntaxError):
                continue
            if isinstance(val, str) and _IDENT.match(val):
                out.extend((part, tok.start[0]) for part in val.split("."))
    return out


def _exempt(module: str, qualname: str) -> bool:
    return f"{module}:{qualname}" in EXEMPT or any(
        module == key or module.startswith(key + ".") for key in EXEMPT if ":" not in key
    )


def _unreached_functions(root: str = ROOT) -> list:
    mods = {path: mod for mod, path in _package_modules(root).items()}
    uses = {}  # name -> [(path, line)]
    defs = []  # (module, qualname, name, path, first line, last line)
    imports = {}  # path -> dotted names its import statements may load
    for path in _program_files(root):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        imports[path] = _imported_names(path, mods.get(path), path.endswith("__init__.py"))
        for name, line in _name_tokens(src):
            uses.setdefault(name, []).append((path, line))
        if path not in mods:
            continue
        for node in ast.parse(src).body:
            members = [(node, getattr(node, "name", ""))]
            if isinstance(node, ast.ClassDef):
                members = [
                    (sub, f"{node.name}.{sub.name}")
                    for sub in node.body
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
            for fn, qual in members:
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if fn.name.startswith("__") and fn.name.endswith("__"):
                    continue
                if _exempt(mods[path], qual):
                    continue
                defs.append((mods[path], qual, fn.name, path, fn.lineno, fn.end_lineno))

    def in_scope(d, p):
        module, qual = d[0], d[1]
        if "." in qual or p == d[3]:
            return True
        return not {module, f"{module}.{qual}"}.isdisjoint(imports[p])

    dead = []
    while True:
        dropped = [
            d for d in defs
            if d not in dead and not any(
                in_scope(d, p)
                and not (p == d[3] and d[4] <= line <= d[5])
                and not any(p == e[3] and e[4] <= line <= e[5] for e in dead)
                for p, line in uses.get(d[2], ())
            )
        ]
        if not dropped:
            return sorted(f"{d[0]}:{d[1]}" for d in dead)
        dead.extend(dropped)


def test_every_public_function_is_reachable_from_an_entry_point():
    """Covers private helpers and methods too (dunders aside): a helper
    only a dead function calls is dead with it."""
    mods = _package_modules()
    for key in EXEMPT:  # a stale exemption would hide nothing but rot
        module, _, qual = key.partition(":")
        assert module in mods, f"EXEMPT names a missing module: {key}"
        if qual:
            with open(mods[module], encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            top = {getattr(n, "name", None) for n in tree.body}
            assert qual in top, f"EXEMPT names a missing function: {key}"
    unreached = _unreached_functions()
    assert not unreached, (
        "functions and methods no program file uses (only tests reach them); "
        "delete them or add a reasoned EXEMPT entry: " + ", ".join(unreached)
    )


def test_same_named_function_in_another_module_does_not_keep_one_alive(tmp_path):
    """A dead ``a.f`` is flagged although a program file calls the live
    ``b.f``: a module-level name counts only where its module is imported."""
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def f():\n    return 1\n")
    (pkg / "b.py").write_text("def f():\n    return 2\n")
    (tmp_path / "__spark_entry__.py").write_text(f"from {PKG}.b import f\n\nf()\n")
    for name in ("bench.py", "bench_extra.py"):
        (tmp_path / name).write_text("")
    assert _unreached_functions(str(tmp_path)) == [f"{PKG}.a:f"]
