"""Tracing for the benchmark: spans kept in memory, wrappers around the
product's public layer functions, and readers for Spark's status store
and its Python UDF profiler. Nothing here changes product code; every
layer is timed from outside, at the calls into it.

A span is (id, parent, name, start, end, attrs). The tree is
run -> job call -> wrapped layer call -> nested layer call.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import Counter


def product_modules(package_dir: str) -> set[str]:
    """Base names of the product's module files. The profiler reports
    file names without directories, so a module is known by its base
    name."""
    return {
        f
        for _, _, files in os.walk(package_dir)
        for f in files
        if f.endswith(".py") and f != "__init__.py"
    }


class Tracer:
    """Span recorder. Disabled, `span` is a no-op and nothing is kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def uncovered(self, sid: int) -> float:
        """Seconds of span `sid` that none of its direct children cover."""
        s = self.spans[sid]
        covered, cur = 0.0, s["start"]
        for k in sorted(self.children(sid), key=lambda k: k["start"]):
            lo, hi = max(k["start"], cur), min(k["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


# the step of the dedup chain each wrapped call belongs to
_DEDUP_STEP = {
    "exact_dedup": "exact",
    "minhash_lsh_candidates": "pairs",
    "connected_components": "components",
}


@contextlib.contextmanager
def wrapped_layers(tracer: Tracer, sc):
    """Patch the public layer entry points with span-recording wrappers
    for the duration of the block, and restore them afterwards.

    StageRunner.commit and the dedup operators also set the Spark job
    group to `<iteration group>:<step>`, so status-store stages can be
    charged to the step that started them."""
    from go_pkg_spider_spark.io import catalog, manifest, stages
    from go_pkg_spider_spark.operators import components, dedup

    def job_group(step):
        base = (sc.getLocalProperty("spark.jobGroup.id") or "").split(":")[0]
        return f"{base}:{step}"

    def wrap(owner, attr, span_name, step_of=None):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            attrs = {}
            prev = None
            if step_of is not None:
                step = step_of(args, kwargs)
                attrs["step"] = step
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setLocalProperty("spark.jobGroup.id", job_group(step))
            try:
                with tracer.span(span_name, **attrs):
                    return orig(*args, **kwargs)
            finally:
                if step_of is not None:
                    sc.setLocalProperty("spark.jobGroup.id", prev)

        setattr(owner, attr, wrapper)
        return owner, attr, orig

    patches = [
        wrap(catalog.Catalog, "write", "catalog.write"),
        wrap(catalog.Catalog, "append", "catalog.append"),
        wrap(catalog.Catalog, "read", "catalog.read"),
        wrap(manifest.ManifestedRun, "run", "manifest.run"),
        wrap(stages.StageRunner, "commit", "stages.commit",
             lambda a, kw: a[1] if len(a) > 1 else kw["stage"]),
    ]
    for mod, fn in ((dedup, "exact_dedup"), (dedup, "minhash_lsh_candidates"),
                    (components, "connected_components")):
        patches.append(wrap(mod, fn, f"operators.{fn}", lambda a, kw, s=_DEDUP_STEP[fn]: s))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


class EngineStats:
    """Per-job-group totals from Spark's status store (the same store
    the web UI reads; it is populated with the UI disabled)."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.jvm = spark._jvm
        self.gateway = spark.sparkContext._gateway

    def for_group(self, prefix: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        empty = self.jvm.java.util.ArrayList()
        jobs = self.store.jobsList(empty)
        stage_ids, n_jobs = set(), 0
        for i in range(jobs.length()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if group.isDefined() and (group.get() == prefix or group.get().startswith(prefix + ":")):
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.length()))
        # Py4J cannot fill Scala default arguments: pass all five
        stage_list = self.store.stageList(
            empty, False, False, self.gateway.new_array(self.jvm.double, 0), empty
        )
        tot = Counter()
        for i in range(stage_list.length()):
            s = stage_list.apply(i)
            if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["task_s"] += s.executorRunTime() / 1e3
            tot["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            # inputRecords, not inputBytes: this reader under-reports bytes
            tot["scan_rows"] += s.inputRecords()
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        tot["jobs"] = n_jobs
        return dict(tot)


def python_udf_rows(spark, seen: set) -> int:
    """Rows returned by Python UDF plan nodes in SQL executions not in
    `seen` (which is updated), from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    rows = 0
    for i in range(execs.length()):
        e = execs.apply(i)
        eid = e.executionId()
        if eid in seen or e.completionTime().isEmpty():
            continue
        seen.add(eid)
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.length()):
            node = nodes.apply(k)
            if "EvalPython" not in node.name():
                continue
            ms = node.metrics()
            for m in range(ms.length()):
                metric = ms.apply(m)
                if metric.name() == "number of output rows":
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        rows += int(v.get().replace(",", ""))
    return rows


def udf_profile(spark, modules: set[str]) -> dict[str, float]:
    """Drain the perf profiler (spark.sql.pyspark.udf.profiler=perf).

    Self time is grouped by the product module FILE that spent it, not
    by function name, so renaming or batching a kernel inside a module
    keeps its attribution. Time in library code (numpy, pyarrow,
    builtins) is charged to the product module that called it, split
    over callers by their share of its cumulative time."""
    coll = spark._profiler_collector
    results = coll._perf_profile_results
    spark.profile.clear(type="perf")
    out = Counter()
    for stats in results.values():
        st = stats.stats
        memo: dict = {}

        def module(func):
            fn = os.path.basename(func[0])
            return fn[:-3] if fn in modules else None

        def shares(func, seen=frozenset()):
            m = module(func)
            if m:
                return {m: 1.0}
            if func in memo:
                return memo[func]
            callers = st.get(func, (0, 0, 0, 0, {}))[4]
            total = sum(v[3] for v in callers.values())
            if func in seen or total <= 0:
                res = {"other": 1.0}
            else:
                res = Counter()
                for c, v in callers.items():
                    for k, f in shares(c, seen | {func}).items():
                        res[k] += f * v[3] / total
            memo[func] = res
            return res

        for func, (cc, nc, tt, ct, callers) in st.items():
            for k, f in shares(func).items():
                out[f"{k}.self_s"] += tt * f
            if not callers:  # a profile root is the UDF body: one call per batch
                out["udf.batches"] += nc
        out["udf.total_s"] += stats.total_tt
    return dict(out)


def process_parents() -> dict[int, int]:
    """{pid: parent pid} of every process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces and ')': split after the last ')'
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return out


def ancestry(pid: int, parents: dict[int, int]) -> list[int]:
    """pid, its parent, its grandparent, ... up to init."""
    chain = []
    while pid > 1 and pid not in chain:
        chain.append(pid)
        pid = parents.get(pid, 0)
    return chain


def python_workers(root_pid: int) -> list[int]:
    """PySpark daemon and worker processes below root_pid."""
    parents = process_parents()
    found = []
    for p in parents:
        if p == root_pid or root_pid not in ancestry(p, parents):
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    found.append(p)
        except OSError:
            continue
    return found


def steal_share(before: tuple, after: tuple) -> float:
    """Share of all vCPU time that other tenants of the host took
    between two `cpu_times()` readings. Logged per job call, so a slow
    call can be told apart from a slow program."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among pids, in MB."""
    best = 0.0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return best
