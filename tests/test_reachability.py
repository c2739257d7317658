"""Every package module, and every top-level definition in it, is
reached from an entry point.

Walks `import` / `from ... import` nodes with `ast` (imports inside
functions included, since most entries import lazily) from the
entry points: jobs/*.py, tools/*.py, bench.py, bench_extra.py,
perfbench/*.py, pipeline.py and entry_queries.py. A module no entry,
job or pipeline reaches is dead code: delete it, or justify it in
ALLOWED_UNREACHED.

The same walk then goes down to top-level `def`s, `class`es and
UPPER_CASE constants of the package: one that no reached non-test
file uses is dead code too, even when a test calls it. Delete it (a
test's reference for a production twin moves into the test), or
justify it in ALLOWED_UNUSED.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "go_pkg_spider_spark"

ALLOWED_UNREACHED: set[str] = set()

# "module:name" -> why the definition stays although no entry point
# uses it. At most 3 entries.
ALLOWED_UNUSED: dict[str, str] = {}


def _roots() -> list[Path]:
    files = [REPO / "bench.py", REPO / "bench_extra.py"]
    files += [REPO / PKG / "pipeline.py", REPO / PKG / "entry_queries.py"]
    for d in ("jobs", "tools", "perfbench"):
        files += sorted((REPO / d).glob("*.py"))
    return [f for f in files if f.exists()]


def _module_file(name: str, near: Path) -> Path | None:
    """The repo file that dotted module `name` loads, if any. Top-level
    names are looked up at the repo root and next to the importer (the
    perfbench scripts import their siblings by bare name)."""
    parts = name.split(".")
    for base in (REPO, near.parent):
        stem = base.joinpath(*parts)
        for f in (stem.with_suffix(".py"), stem / "__init__.py"):
            if f.is_file():
                return f
    return None


def _package_of(f: Path) -> list[str]:
    """Dotted package parts of file f (a package's __init__ included)."""
    return list(f.relative_to(REPO).parts[:-1])


def _imported_names(f: Path) -> set[str]:
    """Dotted names of every module f imports. `from m import x` counts
    m and also m.x (x may be a submodule; a missing file is dropped)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(f)
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            if base:
                out.add(base)
            out.update(f"{base}.{a.name}" if base else a.name for a in node.names)
    return out


def _reached() -> set[Path]:
    seen: set[Path] = set()
    todo = _roots()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        for name in _imported_names(f):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                g = _module_file(".".join(parts[:i]), f)
                if g is not None and g not in seen:
                    todo.append(g)
    return seen


def _modules(files) -> set[str]:
    """Dotted names, relative to the package, of the non-__init__
    package modules among files."""
    return {
        ".".join(f.relative_to(REPO / PKG).with_suffix("").parts)
        for f in files
        if f.is_relative_to(REPO / PKG) and f.name != "__init__.py"
    }


def test_every_package_module_is_reached_from_an_entry_point():
    """Equality, not a subset check: an allowlisted module that becomes
    reachable, or is deleted, must leave the allowlist, so the allowlist
    cannot hide a later dead module."""
    unreached = _modules((REPO / PKG).rglob("*.py")) - _modules(_reached())
    assert unreached == ALLOWED_UNREACHED, (
        f"unreached but not allowlisted: {sorted(unreached - ALLOWED_UNREACHED)}; "
        f"allowlisted but reached or gone: {sorted(ALLOWED_UNREACHED - unreached)}"
    )


_CONSTANT = re.compile(r"_*[A-Z][A-Z0-9_]*")


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def or class, or an
    assignment whose targets are all UPPER_CASE constants."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return names if names and all(_CONSTANT.fullmatch(n) for n in names) else []


def _is_registered(stmt: ast.stmt) -> bool:
    """`@query(...)` puts the function in the queries() table."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(stmt, "decorator_list", [])
    )


def _names_used(node: ast.AST) -> set[str]:
    """Every name node mentions: a Name, an Attribute, an imported
    name, or a string constant that is an identifier (getattr and
    patch-by-name)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _dotted(f: Path) -> str:
    return ".".join(f.relative_to(REPO).with_suffix("").parts).removesuffix(".__init__")


def _unused_definitions() -> dict[str, str]:
    """Map "module:name" to "file:line" for each package definition that
    no reached non-test file uses outside the definition itself.

    A use counts only where the using file is, or imports, the
    defining module. Live code is found as a fixpoint from the
    top-level statements that define nothing (imports, `if __name__`
    blocks, ...) and every statement of a non-package entry file, so
    a use inside a dead definition keeps nothing alive."""
    reached = {f for f in _reached() if not f.is_relative_to(REPO / "tests")}
    scopes: dict[tuple[str, str], list[set[str]]] = defaultdict(list)
    where: dict[tuple[str, str], str] = {}
    by_name: dict[str, list[tuple[str, str]]] = defaultdict(list)
    todo: list[tuple[Path, set[str]]] = []
    for f in reached | set((REPO / PKG).rglob("*.py")):
        in_pkg = f.is_relative_to(REPO / PKG)
        for stmt in ast.parse(f.read_text(), str(f)).body:
            names = [] if not in_pkg or _is_registered(stmt) else _defined_names(stmt)
            for name in names:
                key = (_dotted(f), name)
                scopes[key].append(_names_used(stmt))
                where.setdefault(key, f"{f.relative_to(REPO)}:{stmt.lineno}")
                by_name[name].append(key)
            if not names and f in reached:
                todo.append((f, _names_used(stmt)))
    importers = {f: _imported_names(f) | {_dotted(f)} for f in reached}
    file_of = {_dotted(f): f for f in reached}
    live: set[tuple[str, str]] = set()
    while todo:
        f, used = todo.pop()
        for name in used:
            for key in by_name.get(name, ()):
                if key not in live and key[0] in importers[f]:
                    live.add(key)
                    todo += [(file_of[key[0]], u) for u in scopes[key]]
    return {
        f"{mod.removeprefix(PKG + '.')}:{name}": where[(mod, name)]
        for mod, name in scopes.keys() - live
    }


def test_every_package_definition_is_used_from_an_entry_point():
    """Equality with the allowlist, like the module check. A test that
    calls a definition does not keep it: move a test-only reference
    into the test module, or delete the definition with its tests."""
    assert len(ALLOWED_UNUSED) <= 3
    unused = _unused_definitions()
    new = sorted(f"{where} {name}" for name, where in unused.items() if name not in ALLOWED_UNUSED)
    assert not new, "defined but used by no entry point:\n" + "\n".join(new)
    stale = sorted(set(ALLOWED_UNUSED) - set(unused))
    assert not stale, f"allowlisted but used or gone: {stale}"
