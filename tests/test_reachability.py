"""Every package module is reached from a shipping entry point.

A pure-AST import walk (nothing is imported, no Spark) from the driver
contract, the benchmark, the two CLIs and the streaming drivers. A module
that only tests import fails this check: it belongs under ``tests/`` or
nowhere.
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


def _imported_names(path: str, module: str | None) -> set[str]:
    """Absolute dotted names a file imports, anywhere in its body. For
    ``from X import Y`` both ``X`` and ``X.Y`` are candidates (Y may be a
    submodule); the caller keeps the ones that are modules."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
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
