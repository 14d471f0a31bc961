"""Every package module, top-level function and class method is reached
from a shipping entry point.

Pure AST (nothing is imported, no Spark), starting from the driver
contract, the benchmark, the two CLIs and the streaming drivers:

- the module check walks imports; a module that only tests import fails;
- the function check walks names over the reached modules; a top-level
  ``def`` or ``class`` that no shipping path names fails;
- the method check applies the same walk to each method of a top-level
  class: a method is its own def, reached when reached code names it
  (dunder methods are roots), and a class reaches only what its bases,
  decorators and non-def body name.

Code that fails any check belongs under ``tests/`` or nowhere: the slow
references that tests compare shipping fast paths against live in
``tests/parity_references.py``.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "trde703_openfoodfacts_etl_spark"

ENTRY_FILES = ["__spark_entry__.py", "bench.py"]
ENTRY_MODULES = [f"{PKG}.pipeline_cli", f"{PKG}.inspect_cli", f"{PKG}.streaming.pipeline"]

def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py under the package."""
    out = {}
    for dirpath, dirnames, files in os.walk(os.path.join(REPO, PKG)):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def _imported_names(path: str, module: str | None) -> set[str]:
    """Absolute dotted names a file imports, anywhere in its body. For
    ``from X import Y`` both ``X`` and ``X.Y`` are candidates (Y may be a
    submodule); the caller keeps the ones that are modules."""
    tree = _parse(path)
    is_pkg = os.path.basename(path) == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".") if module else []
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                if node.module:
                    base = base + node.module.split(".")
                src = ".".join(base)
            else:
                src = node.module or ""
            names.add(src)
            names.update(f"{src}.{a.name}" for a in node.names)
    return names


def _reached() -> set[str]:
    mods = _package_modules()
    seen: set[str] = set()
    todo = [(os.path.join(REPO, f), None) for f in ENTRY_FILES]
    todo += [(mods[m], m) for m in ENTRY_MODULES]
    seen.update(ENTRY_MODULES)
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    return seen


def test_every_package_module_is_reached_from_a_shipping_path():
    unreached = sorted(set(_package_modules()) - _reached())
    assert unreached == [], (
        f"modules no shipping path imports: {unreached}; wire them into a "
        "shipping path, move them under tests/, or delete them"
    )


def _names(nodes) -> set[str]:
    """Every ``ast.Name`` id and ``ast.Attribute`` attr under ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _own_names(node) -> set[str]:
    """Names a reached def makes reachable. A class reaches only what its
    bases, keywords, decorators and non-def body name: each method is a def
    of its own, reached only if reached code names it."""
    if isinstance(node, ast.ClassDef):
        return _names(
            node.bases
            + node.keywords
            + node.decorator_list
            + [s for s in node.body if not isinstance(s, _FUNCS)]
        )
    return _names([node])


def _unreached_defs() -> dict[str, list[tuple[str, bool]]]:
    """Def name -> ``(qualified name, is_method)`` of each def by that name,
    for every top-level def/class, and every method of a top-level class,
    in a reached module that no shipping path names.

    Roots: every name in an entry file or entry module, the public defs of
    an entry module (the drivers themselves), every name in the
    module-level code (``REGISTRY``, constants) or a decorator of a reached
    module, and every dunder method (Python calls those itself). A
    top-level def under a bare decorator (``@atexit.register``) is a root
    too: the decorator gets the function itself at import. A def whose name
    a reached def uses is reached. Names are not resolved to objects, so a
    method is reached by any reached ``x.name`` or ``name``."""
    mods = _package_modules()
    defs: dict[str, list[tuple[str, ast.AST, bool]]] = {}
    used: set[str] = set()
    for f in ENTRY_FILES:
        used |= _names([_parse(os.path.join(REPO, f))])
    for m in sorted(_reached()):
        tree = _parse(mods[m])
        if m in ENTRY_MODULES:
            used |= _names([tree])
        for stmt in tree.body:
            if isinstance(stmt, (*_FUNCS, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((f"{m}.{stmt.name}", stmt, False))
                used |= _names(stmt.decorator_list)
                if (m in ENTRY_MODULES and not stmt.name.startswith("_")) or any(
                    not isinstance(d, ast.Call) for d in stmt.decorator_list
                ):
                    used.add(stmt.name)
                if isinstance(stmt, ast.ClassDef):
                    for sub in stmt.body:
                        if not isinstance(sub, _FUNCS):
                            continue
                        qual = f"{m}.{stmt.name}.{sub.name}"
                        defs.setdefault(sub.name, []).append((qual, sub, True))
                        used |= _names(sub.decorator_list)
                        if sub.name.startswith("__") and sub.name.endswith("__"):
                            used.add(sub.name)
            else:
                used |= _names([stmt])
    todo = [n for n in defs if n in used]
    seen = set(todo)
    while todo:
        for _, node, _ in defs[todo.pop()]:
            new = (_own_names(node) & defs.keys()) - seen
            seen |= new
            todo += new
    return {
        n: [(qual, is_method) for qual, _, is_method in defs[n]]
        for n in sorted(defs.keys() - seen)
    }


def test_every_package_function_is_reached_from_a_shipping_path():
    unreached = [
        qual
        for found in _unreached_defs().values()
        for qual, is_method in found
        if not is_method
    ]
    assert unreached == [], (
        f"functions no shipping path calls: {unreached}; call them from a "
        "shipping path, move them under tests/, or delete them"
    )


def test_every_package_method_is_reached_from_a_shipping_path():
    unreached = [
        qual
        for found in _unreached_defs().values()
        for qual, is_method in found
        if is_method
    ]
    assert unreached == [], (
        f"methods no shipping path calls: {unreached}; call them from a "
        "shipping path or delete them"
    )
