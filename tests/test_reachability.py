"""Every package module is reached from an entry point.

Walks `import` / `from ... import` nodes with `ast` (imports inside
functions included, since most entries import lazily) from the
entry points: jobs/*.py, tools/*.py, bench.py, bench_extra.py,
perfbench/*.py, pipeline.py and entry_queries.py. A module no entry,
job or pipeline reaches is dead code: delete it, or justify it in
ALLOWED_UNREACHED.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "go_pkg_spider_spark"

# Recasts of the reference's public library API (GetNews / DetectDomain)
# that no entry or job calls. Whether to keep a library surface with no
# in-repo caller is a separate decision from deleting dead modules.
ALLOWED_UNREACHED = {
    "operators.extract",
    "functions.icp",
}


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
