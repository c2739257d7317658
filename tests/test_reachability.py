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

The parameter check goes down once more, to the defaulted parameters
of the package's and the jobs' functions: one that only tests give a
non-default value, by keyword or by position, selects a path that
production never runs. Delete it with its branch, or justify it in
SEAMS.
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


# Names that put a Python stage on the pandas transport.
_PANDAS_TRANSPORT = {"pandas_udf", "mapInPandas", "applyInPandas", "toPandas"}


def _pandas_uses(f: Path) -> list[str]:
    """`line: what` for each pandas transport name f mentions and each
    import of pandas (or a pandas submodule) in f."""
    hits = []
    for n in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(n, ast.Import):
            mods = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom) and not n.level:
            mods = [n.module or ""]
        else:
            mods = []
        hits += [f"{n.lineno}: import {m}" for m in mods if m.split(".")[0] == "pandas"]
        name = n.attr if isinstance(n, ast.Attribute) else getattr(n, "id", None)
        if name in _PANDAS_TRANSPORT:
            hits.append(f"{n.lineno}: {name}")
    return hits


def test_udfs_are_arrow_only():
    """Every Python stage of the package and the jobs is Arrow in and
    Arrow out (`F.arrow_udf` / `mapInArrow`, through the row adapter in
    session.py), and no module imports pandas. Fails on `pandas_udf`,
    `mapInPandas`, `applyInPandas`, `toPandas` or an import of pandas.
    Not covered, and not a UDF transport: `io.catalog` still loads
    pandas on the driver, through `pyarrow.dataset`, and the oracle
    gate (tools/check_oracles.py) compares its frames in pandas."""
    hits = [
        f"{f.relative_to(REPO)}:{hit}"
        for d in (PKG, "jobs")
        for f in sorted((REPO / d).rglob("*.py"))
        for hit in _pandas_uses(f)
    ]
    assert not hits, "pandas in the package or jobs:\n" + "\n".join(hits)


# "module:function(parameter)" -> why a defaulted parameter stays
# although only tests give it a value other than its default: a seam,
# kept so a test can select a path at fixture size.
SEAMS: dict[str, str] = {
    "operators.components:connected_components(max_iter)":
        "a path longer than max_iter reaches the star fallback at fixture size",
    "operators.components:connected_components(driver_edge_threshold)":
        "0 runs the distributed min-label rounds on a fixture graph",
    "io.stages:run_lease(ttl_sec)": "a lease that expires within the test's wait",
    "operators.similarity:ivf_assign(max_literal_k)":
        "the Arrow argmin form at a fixture's k of 8 centroids",
    "operators.similarity:ivf_topk_batch_gemm(max_probe_rows_per_chunk)":
        "a multi-chunk serve over a few fixture queries",
    "operators.dedup:ngram_jaccard_pairs(max_group_size)":
        "the group cap and its drop count on a fixture corpus",
    "operators.similarity:embedding_neardup_pairs(max_bucket_size)":
        "the bucket cap on a fixture's hot bucket",
    "fixtures.audio_fixtures:_fmt_chunk(channels)":
        "fixture builder: tests build stereo WAV blobs the frozen corpus does not hold",
    "fixtures.audio_fixtures:_au(channels)":
        "fixture builder: tests build stereo AU blobs the frozen corpus does not hold",
}

# Where the parameter check looks for definitions; calls are read from
# every Python file of the repository.
_PARAM_SCOPES = (PKG, "jobs")


def _call_files() -> list[Path]:
    dirs = (PKG, "jobs", "tools", "perfbench", "tests")
    return sorted({f for d in dirs for f in (REPO / d).rglob("*.py")} | set(REPO.glob("*.py")))


def _is_static(fn: ast.FunctionDef) -> bool:
    return any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)


def _definitions() -> tuple[dict[str, tuple[Path, ast.FunctionDef, int]], set[str]]:
    """Every top-level function and method of a top-level class, as
    "module:qualname" -> (file, def, the positional offset of a call
    through its name), and the "module:Class" keys. Test helpers are
    definitions too, so the keywords they forward are followed."""
    defs: dict[str, tuple[Path, ast.FunctionDef, int]] = {}
    classes: set[str] = set()
    for f in _call_files():
        mod = _dotted(f)
        for stmt in ast.parse(f.read_text(), str(f)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[f"{mod}:{stmt.name}"] = (f, stmt, 0)
            elif isinstance(stmt, ast.ClassDef):
                classes.add(f"{mod}:{stmt.name}")
                for s in stmt.body:
                    if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        defs[f"{mod}:{stmt.name}.{s.name}"] = (f, s, 0 if _is_static(s) else 1)
    return defs, classes


def _defaults(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """The positional parameter names and {name: default} of the
    defaulted ones, keyword-only included."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    out = dict(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
    out.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return pos, out


def _bindings(f: Path, tree: ast.AST, modules: set[str]) -> dict[str, str]:
    """Local name -> "pkg.mod" for an imported module, "pkg.mod:name"
    for a name imported from one."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(f)
                base = ".".join(pkg[: len(pkg) - (node.level - 1)] + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            for a in node.names:
                sub = f"{base}.{a.name}"
                out[a.asname or a.name] = sub if sub in modules else f"{base}:{a.name}"
    return out


def _last_name(e: ast.expr) -> str | None:
    return e.id if isinstance(e, ast.Name) else e.attr if isinstance(e, ast.Attribute) else None


def _same_value(value: ast.expr, default: ast.expr) -> bool:
    """A passed value equals the default: the same literal or expression,
    or the same named constant reached by another path."""
    if ast.dump(value) == ast.dump(default):
        return True
    name = _last_name(value)
    return name is not None and name == _last_name(default) and bool(_CONSTANT.fullmatch(name))


class _CallScan:
    """Records, for each defaulted parameter of a definition in the
    scopes, which sides ("test", "prod") pass it a non-default value.

    A callee is resolved through imports, module attributes and local
    aliases (`score = f if x else g` makes `score(...)` a call of
    both); an attribute call on anything else is a call of every method
    of that name. A `**d` argument passes the keys of the dict literal
    or `dict(...)` call `d` is bound to; a `**kwargs` a function got is
    followed to the callees it forwards to; any other `*` or `**`
    argument passes every parameter it could reach."""

    def __init__(self):
        self.modules = {_dotted(f) for f in _call_files()}
        self.defs, self.classes = _definitions()
        self.sig = {k: _defaults(fn) for k, (_, fn, _) in self.defs.items()}
        self.methods: dict[str, list[str]] = defaultdict(list)
        for k in self.defs:
            if "." in k.split(":")[1]:
                self.methods[k.rsplit(".", 1)[1]].append(k)
        self.uses: dict[tuple[str, str], set[str]] = defaultdict(set)
        self.forwards: dict[str, list[str]] = defaultdict(list)
        self.pending: list[tuple[str, str, ast.expr | None, str]] = []

    def _callable(self, target: str) -> list[tuple[str, int]]:
        if target in self.defs:
            return [(target, 0)]
        if target in self.classes and f"{target}.__init__" in self.defs:
            return [(f"{target}.__init__", 1)]
        return []

    def _module(self, e: ast.expr, bind: dict[str, str]) -> str | None:
        parts = []
        while isinstance(e, ast.Attribute):
            parts.insert(0, e.attr)
            e = e.value
        if not isinstance(e, ast.Name) or ":" in bind.get(e.id, ":"):
            return None
        name = ".".join([bind[e.id], *parts])
        return name if name in self.modules else None

    def targets(self, e, mod, bind, aliases, depth=0) -> list[tuple[str, int]]:
        if depth > 3:
            return []
        if isinstance(e, ast.IfExp):
            return self.targets(e.body, mod, bind, aliases, depth + 1) + self.targets(
                e.orelse, mod, bind, aliases, depth + 1
            )
        if isinstance(e, ast.Name):
            out = [t for v in aliases.get(e.id, ()) for t in self.targets(v, mod, bind, aliases, depth + 1)]
            return out + self._callable(bind.get(e.id, f"{mod}:{e.id}"))
        if isinstance(e, ast.Attribute):
            owner = self._module(e.value, bind)
            if owner is not None:
                return self._callable(f"{owner}:{e.attr}")
            return [(k, self.defs[k][2]) for k in self.methods.get(e.attr, ())]
        return []

    def record(self, key: str, name: str, value: ast.expr | None, side: str) -> None:
        """value None: an unknown value, so not the default."""
        pos, defaults = self.sig[key]
        if name in defaults:
            if value is None or not _same_value(value, defaults[name]):
                self.uses[(key, name)].add(side)
        elif name not in pos and self.defs[key][1].args.kwarg is not None:
            self.pending.append((key, name, value, side))

    def record_all(self, key: str, side: str, start: int = 0, keywords: bool = True) -> None:
        pos, defaults = self.sig[key]
        for name in defaults:
            if (name in pos and pos.index(name) >= start) or (keywords and name not in pos):
                self.uses[(key, name)].add(side)

    def scan(self, f: Path) -> None:
        tree = ast.parse(f.read_text(), str(f))
        side = "test" if f.is_relative_to(REPO / "tests") else "prod"
        mod, bind = _dotted(f), _bindings(f, tree, self.modules)
        aliases: dict[str, list[ast.expr]] = defaultdict(list)
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and len(n.targets) == 1 and isinstance(n.targets[0], ast.Name):
                aliases[n.targets[0].id].append(n.value)
        self._walk(tree, None, mod, bind, aliases, side)

    def _walk(self, node, fn, mod, bind, aliases, side) -> None:
        """fn: the innermost enclosing def, as (node, its key or None)."""
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = f"{node.name}.{child.name}" if isinstance(node, ast.ClassDef) else child.name
                key = f"{mod}:{qual}"
                inner = (child, key if key in self.defs and self.defs[key][1].lineno == child.lineno else None)
            if isinstance(child, ast.Call):
                self._call(child, fn, mod, bind, aliases, side)
            self._walk(child, inner, mod, bind, aliases, side)

    def _kwargs_of(self, e: ast.expr, aliases) -> dict[str, ast.expr] | None:
        if isinstance(e, ast.BoolOp):
            parts = [self._kwargs_of(v, aliases) for v in e.values]
            return None if None in parts else {k: v for p in parts for k, v in p.items()}
        if isinstance(e, ast.Dict) and all(isinstance(k, ast.Constant) for k in e.keys):
            return {k.value: v for k, v in zip(e.keys, e.values)}
        if isinstance(e, ast.Call) and getattr(e.func, "id", None) == "dict" and not e.args:
            if all(kw.arg for kw in e.keywords):
                return {kw.arg: kw.value for kw in e.keywords}
        if isinstance(e, ast.Name) and aliases.get(e.id):
            parts = [self._kwargs_of(v, aliases) for v in aliases[e.id]]
            return None if None in parts else {k: v for p in parts for k, v in p.items()}
        return None

    def _call(self, call: ast.Call, fn, mod, bind, aliases, side) -> None:
        """A `*args` or `**kwargs` the enclosing def got passes nothing
        of its own: only the keywords its callers give are followed."""
        node, owner = fn or (None, None)
        own_args = node.args.vararg.arg if node and node.args.vararg else None
        own_kwargs = node.args.kwarg.arg if node and node.args.kwarg else None
        for key, offset in self.targets(call.func, mod, bind, aliases):
            pos, _ = self.sig[key]
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    if getattr(arg.value, "id", None) != own_args:
                        self.record_all(key, side, start=i + offset, keywords=False)
                    break
                if i + offset < len(pos):
                    self.record(key, pos[i + offset], arg, side)
            for kw in call.keywords:
                if kw.arg is not None:
                    self.record(key, kw.arg, kw.value, side)
                elif own_kwargs and getattr(kw.value, "id", None) == own_kwargs:
                    if owner is not None:
                        self.forwards[owner].append(key)
                elif (passed := self._kwargs_of(kw.value, aliases)) is not None:
                    for name, value in passed.items():
                        self.record(key, name, value, side)
                else:
                    self.record_all(key, side, start=len(call.args) + offset)

    def result(self) -> dict[tuple[str, str], set[str]]:
        """Follow each keyword a `**kwargs` parameter took to the
        callees that function forwards it to."""
        seen = set()
        while self.pending:
            key, name, value, side = self.pending.pop()
            for target in self.forwards.get(key, ()):
                if (target, name, id(value), side) not in seen:
                    seen.add((target, name, id(value), side))
                    self.record(target, name, value, side)
        return self.uses


def _test_only_parameters() -> dict[str, str]:
    """"module:qualname(parameter)" -> "file:line" for each defaulted
    parameter that only tests give a non-default value."""
    scan = _CallScan()
    for f in _call_files():
        scan.scan(f)
    out = {}
    for (key, name), sides in scan.result().items():
        f, fn, _ = scan.defs[key]
        if sides == {"test"} and any(f.is_relative_to(REPO / d) for d in _PARAM_SCOPES):
            out[f"{key.removeprefix(PKG + '.')}({name})"] = f"{f.relative_to(REPO)}:{fn.lineno}"
    return out


def test_every_defaulted_parameter_has_a_production_caller():
    """A defaulted parameter that only tests set selects a path
    production never runs: delete the branch, or list the parameter in
    SEAMS with why a test needs it. Equality, as above."""
    flagged = _test_only_parameters()
    new = sorted(f"{where} {k}" for k, where in flagged.items() if k not in SEAMS)
    assert not new, "set to a non-default value only by tests:\n" + "\n".join(new)
    stale = sorted(set(SEAMS) - set(flagged))
    assert not stale, f"listed in SEAMS but set by production or gone: {stale}"
