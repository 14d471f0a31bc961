"""Every package module, top-level function and class method is reached
from a shipping entry point, and every package option and module-level
name is used by code outside tests.

Pure AST (nothing is imported, no Spark), starting from the driver
contract, the benchmark, the two CLIs and the streaming drivers:

- the module check walks imports; a module that only tests import fails;
- the function check walks names over the reached modules; a top-level
  ``def`` or ``class`` that no shipping path names fails;
- the method check applies the same walk to each method of a top-level
  class: a method is its own def, reached when reached code names it
  (dunder methods are roots), and a class reaches only what its bases,
  decorators and non-def body name;
- the option check resolves every call in code outside ``tests/`` by name
  and fails on a defaulted or keyword-only parameter that no such call
  passes;
- the module-level name check fails on a name a package module assigns
  (``X = ...``) that no code outside ``tests/`` reads.

Code that fails any check belongs under ``tests/`` or nowhere: the slow
references that tests compare shipping fast paths against live in
``tests/parity_references.py``. An option only tests set becomes a module
constant that tests monkeypatch.
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


# Option and module-level name checks -----------------------------------

#: Code that may set a package option or read a package name: everything
#: but tests.
CALLERS = [PKG, "__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench", "scripts"]

#: ``(def, parameter) -> (twin def, twin parameter)``: an option that only
#: tests set on ``def`` but that shares one code path with a twin that code
#: outside tests sets. The mirror stays as long as its twin is set.
MIRRORS = {
    (f"{PKG}.sources.genfeed.generate_segments", "v2_from_segment"):
        (f"{PKG}.sources.genfeed.generate_segments_spark", "v2_from_segment"),
    (f"{PKG}.streaming.pipeline.run_incremental", "auto_rebucket_target_bytes"):
        (f"{PKG}.streaming.pipeline.run_stream", "auto_rebucket_target_bytes"),
}


def _caller_files() -> list[str]:
    out = []
    for entry in CALLERS:
        path = os.path.join(REPO, entry)
        if path.endswith(".py"):
            out.append(path)
            continue
        for dirpath, dirnames, files in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_")) and d != "tests"]
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _options() -> dict[str, list[tuple[str, list[str], set[str], int]]]:
    """Def name -> ``(qualified name, positional params, options, offset)``
    for every package def, nested ones too. Options are the defaulted and
    keyword-only parameters; ``offset`` is 1 where a call through an
    attribute binds the first parameter (methods, ``__init__``)."""
    out: dict[str, list] = {}

    def visit(body, prefix, in_class):
        for stmt in body:
            if isinstance(stmt, ast.ClassDef):
                visit(stmt.body, f"{prefix}.{stmt.name}", True)
            elif isinstance(stmt, _FUNCS):
                a = stmt.args
                pos = [p.arg for p in a.posonlyargs + a.args]
                opts = set(pos[len(pos) - len(a.defaults):] if a.defaults else [])
                opts |= {p.arg for p in a.kwonlyargs}
                static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                             for d in stmt.decorator_list)
                offset = 1 if in_class and not static else 0
                qual = f"{prefix}.{stmt.name}"
                out.setdefault(stmt.name, []).append((qual, pos, opts, offset))
                visit(stmt.body, qual, False)
            elif hasattr(stmt, "body"):
                for field in ("body", "orelse", "finalbody"):
                    visit(getattr(stmt, field, []), prefix, in_class)
                for h in getattr(stmt, "handlers", []):
                    visit(h.body, prefix, in_class)

    for m, path in _package_modules().items():
        visit(_parse(path).body, m, False)
    return out


def _dict_keys(node) -> set[str]:
    """String keys of every ``{...}`` literal and ``dict(...)`` call under
    ``node``."""
    keys: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Dict):
            keys |= {k.value for k in n.keys if isinstance(k, ast.Constant)}
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == "dict":
            keys |= {k.arg for k in n.keywords if k.arg}
    return keys


def _passed() -> set[tuple[str, str]]:
    """``(qualified def, parameter)`` for every option a caller outside tests
    passes, at a call resolved by name: ``f(...)`` and ``x.f(...)`` reach
    every def named ``f``; ``C(...)`` and ``cls(...)`` reach ``C.__init__``.
    A call passes a parameter by keyword, by position, or as a key of a
    ``**`` dict given inline or through a name assigned in the same file."""
    defs = _options()
    out: set[tuple[str, str]] = set()
    for path in _caller_files():
        tree = _parse(path)
        assigned: dict[str, set[str]] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign):
                for t in n.targets:
                    if isinstance(t, ast.Name):
                        assigned.setdefault(t.id, set()).update(_dict_keys(n.value))
        classes = [c for c in ast.walk(tree) if isinstance(c, ast.ClassDef)]
        enclosing = {id(n): c.name for c in classes for n in ast.walk(c)}
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name == "cls":
                name = enclosing.get(id(call))
            targets = [(d, isinstance(f, ast.Attribute)) for d in defs.get(name, [])]
            targets += [(d, True) for d in defs.get("__init__", [])
                        if d[0].rsplit(".", 2)[-2] == name]
            if not targets:
                continue
            kws: set[str] = set()
            for k in call.keywords:
                if k.arg:
                    kws.add(k.arg)
                elif isinstance(k.value, ast.Name):
                    kws |= assigned.get(k.value.id, set())
                else:
                    kws |= _dict_keys(k.value)
            npos = len(call.args)
            for i, a in enumerate(call.args):
                if isinstance(a, ast.Starred):
                    npos = i
                    break
            for (qual, pos, opts, offset), bound in targets:
                shift = offset if bound else 0
                given = kws | set(pos[shift:shift + npos])
                out |= {(qual, p) for p in opts & given}
    return out


def test_every_package_option_is_set_outside_tests():
    options = {
        (qual, p) for found in _options().values() for qual, _, opts, _ in found for p in opts
    }
    passed = _passed()
    lost = sorted(twin for twin in MIRRORS.values() if twin not in passed)
    assert lost == [], (
        f"MIRRORS twins no caller outside tests sets: {lost}; drop the mirror "
        "too, or give the twin a caller"
    )
    unset = sorted(f"{qual}({p})" for qual, p in options - passed - MIRRORS.keys())
    assert unset == [], (
        f"options no code outside tests passes: {unset}; inline the one value "
        "as a constant, give the option a shipping caller, or delete it"
    )


def _module_names() -> list[str]:
    """``module.NAME`` for every name a package module binds with a
    top-level ``NAME = ...`` or ``NAME: T = ...``, dunders aside."""
    out = []
    for m, path in _package_modules().items():
        for stmt in _parse(path).body:
            if isinstance(stmt, ast.Assign):
                targets = stmt.targets
            elif isinstance(stmt, ast.AnnAssign):
                targets = [stmt.target]
            else:
                continue
            out += [
                f"{m}.{n.id}" for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and not n.id.startswith("__")
            ]
    return out


def _read_names() -> set[str]:
    """Every name code outside tests reads: a loaded ``NAME``, an
    ``x.NAME``, or a ``from m import NAME``."""
    out: set[str] = set()
    for path in _caller_files():
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out |= {a.name for a in n.names}
    return out


def test_every_package_module_level_name_is_read_outside_tests():
    read = _read_names()
    unread = sorted(q for q in _module_names() if q.rsplit(".", 1)[1] not in read)
    assert unread == [], (
        f"module-level names no code outside tests reads: {unread}; move "
        "them under tests/ or delete them"
    )
