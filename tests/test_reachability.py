"""Every script is a listed entry point, every package module and
every top-level definition in it is reached from one, and every import
is used.

ROOTS lists the entry points, each with why it is one; any other *.py
at the repo root or under tools/ fails, naming its file. Walks
`import` / `from ... import` nodes with `ast` (imports inside
functions included, since most entries import lazily) from those
roots. A module no entry, job or pipeline reaches is dead code: delete
it, or justify it in ALLOWED_UNREACHED.

The same walk then goes down to top-level `def`s, `class`es and
UPPER_CASE constants of the package: one that no reached non-test
file uses is dead code too, even when a test calls it. Delete it (a
test's reference for a production twin moves into the test), or
justify it in ALLOWED_UNUSED. An import is not a use, so the last
check fails on any name a file imports and never mentions.
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


# Every entry point, with why it is one. Only these files root the
# walks below, and every *.py at the repo root and under tools/ must be
# listed: a one-off script fails test_every_script_is_a_listed_root
# (timings belong in perfbench/ or bench.py, not beside them).
ROOTS: dict[str, str] = {
    "bench.py": "entry-level benchmark: every queries() entry, noop sink",
    "__spark_entry__.py": "the queries() / oracle_sql() contract surface",
    f"{PKG}/pipeline.py": "the clips quality-filter pipeline",
    f"{PKG}/entry_queries.py": "the oracled queries() entries",
    "jobs/*.py": "the spark-submit jobs",
    "perfbench/*.py": "the job benchmark (BENCHMARK.json)",
    "tools/__init__.py": "makes tools/ a package the tests import from",
    "tools/check_oracles.py": "Spark-vs-DuckDB parity gate; test_entry, test_check_oracles",
    "tools/regen_goldens.py": "rewrites the frozen goldens after an intended semantics change",
    "tools/regen_audio_fixtures.py": "rewrites the audio fixture table (audio_fixtures.py names it)",
    "tools/ann_recall.py": "recall@k sweep; test_ivf",
    "tools/fp_robustness.py": "fingerprint robustness floors; test_audio_fp",
    "tools/model_accuracy.py": "langid / perplexity accuracy; test_model_accuracy",
    "tools/plan_report.py": "writes BENCH/PLANS.md, the plan-shape evidence",
}


def _roots() -> list[Path]:
    return sorted(f for pattern in ROOTS for f in REPO.glob(pattern))


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


def test_every_script_is_a_listed_root():
    """A script at the repo root or under tools/ is an entry point by
    being runnable, so it must say why it exists in ROOTS."""
    scripts = set(REPO.glob("*.py")) | set((REPO / "tools").glob("*.py"))
    unlisted = sorted(str(f.relative_to(REPO)) for f in scripts - set(_roots()))
    assert not unlisted, f"scripts not in ROOTS: {unlisted}"


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
    """Every name node mentions: a Name, an Attribute, or a string
    constant that is an identifier (getattr and patch-by-name). An
    import alone is not a use: the importing file must name it."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
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


def _unused_imports(f: Path) -> list[str]:
    """Each name f imports but never mentions, as "line name"."""
    tree = ast.parse(f.read_text(), str(f))
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.name != "*":
                    bound.setdefault(a.asname or a.name.split(".")[0], node.lineno)
    used = _names_used(tree)
    return [f"{line} {name}" for name, line in bound.items() if name not in used]


def test_every_import_is_used():
    """The walks above do not count an import as a use, so an unused
    import hides nothing from them; it is still dead code."""
    files = [f for d in (PKG, "jobs", "tools", "tests") for f in (REPO / d).rglob("*.py")]
    unused = [
        f"{f.relative_to(REPO)}:{hit}" for f in sorted(files) for hit in _unused_imports(f)
    ]
    assert not unused, "imported but unused:\n" + "\n".join(unused)


# file -> why its createDataFrame calls stay off session.local_frame.
CREATE_DATAFRAME_ALLOWED: dict[str, str] = {
    f"{PKG}/entry_queries.py": "fixture frames that feed bench.py entries; "
    "moving them changes what those entries time",
}


def _create_dataframe_calls(f: Path) -> list[int]:
    """Lines of f's createDataFrame calls outside a `local_frame` def."""
    tree = ast.parse(f.read_text(), str(f))
    in_local_frame = {
        id(n)
        for d in ast.walk(tree)
        if isinstance(d, ast.FunctionDef) and d.name == "local_frame"
        for n in ast.walk(d)
    }
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and id(n) not in in_local_frame
        and "createDataFrame" in (getattr(n.func, "attr", None), getattr(n.func, "id", None))
    ]


def test_driver_built_frames_go_through_local_frame():
    """A Python list given to createDataFrame plans as a scan of a
    parallelized RDD, so even a one-row frame runs a Python-worker
    task per default partition; session.local_frame builds an Arrow
    local relation instead. Equality with the allowlist, as above."""
    calls = {
        str(f.relative_to(REPO)): lines
        for d in (PKG, "jobs")
        for f in sorted((REPO / d).rglob("*.py"))
        if (lines := _create_dataframe_calls(f))
    }
    new = [
        f"{f}:{n}"
        for f, lines in calls.items()
        if f not in CREATE_DATAFRAME_ALLOWED
        for n in lines
    ]
    assert not new, "createDataFrame outside session.local_frame:\n" + "\n".join(new)
    stale = sorted(set(CREATE_DATAFRAME_ALLOWED) - set(calls))
    assert not stale, f"allowlisted but calling no createDataFrame: {stale}"
