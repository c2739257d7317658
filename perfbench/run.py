"""Benchmark of the quality-filter and dedup jobs on local[<cores>].

    python3 perfbench/run.py --workload clips_manifested --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process runs one workload: it makes
the inputs from the seed, starts a Spark session, warms the Python
worker pool, then calls the job back to back (a closed loop: one job
at a time, one task slot per core) for --seconds, checking every
output outside the timed interval. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "6g"  # the session default (24g) exceeds a 15 GB host
JVM_MARKER = "PERFBENCH_JVM_OWNER"
MIN_CALLS = 3

END_TO_END = {
    "rows_per_s": "1/s",
    "wall_s": "s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "warmup.s": "s",
    "pipeline.plan_s": "s",
    "udf.total_s": "s",
    "fused.self_s": "s",
    "decode.self_s": "s",
    "flac.self_s": "s",
    "langid.self_s": "s",
    "perplexity.self_s": "s",
    "udf.batches": "count",
    "udf.rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scan_rows": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.slot_busy_frac": "frac",
    "manifest.scan_amplification": "ratio",
    "manifest.bookkeeping_s": "s",
    "manifest.resume_s": "s",
    "manifest.buckets_run": "count",
    "catalog.write_s": "s",
    "catalog.append_s": "s",
    "catalog.read_s": "s",
    "catalog.calls": "count",
    "stages.exact_s": "s",
    "stages.pairs_s": "s",
    "stages.components_s": "s",
    "stages.decisions_s": "s",
    "dedup.pairs": "count",
    "dedup.components": "count",
    "trace.unattributed_frac": "frac",
    "trace.overhead_frac": "frac",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def kill_leftover_jvms() -> None:
    """Kill processes left by an earlier run of this benchmark: only
    those carrying its marker in their environment, never an ancestor."""
    from spans import ancestry, process_parents

    parents = process_parents()
    mine = set(ancestry(os.getpid(), parents))
    for p in parents:
        if p in mine:
            continue
        try:
            with open(f"/proc/{p}/environ", "rb") as f:
                ours = f"{JVM_MARKER}=".encode() in f.read()
        except OSError:
            continue
        if ours:
            try:
                os.kill(p, signal.SIGKILL)
                log(f"killed leftover marked process {p}")
            except OSError:
                pass


def launcher_env() -> None:
    """Host hygiene, set before the JVM starts so it and the Python
    workers inherit it; session.py reads SPARK_DRIVER_MEMORY."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ[JVM_MARKER] = "perfbench"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the spark-submit launcher JVM would write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    # the UDF runs in Python workers that import the product package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(slots: int):
    from go_pkg_spider_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{slots}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both the JVM
    and its Python workers to exit."""
    from pyspark import SparkContext

    from spans import python_workers

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill it
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while python_workers(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in python_workers(os.getpid()):
        os.kill(p, signal.SIGKILL)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, job_span, engine, profile, udf_rows, wall, slots) -> dict:
    """Per-layer numbers of one traced job call."""
    spans = tracer.descendants(job_span)

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m = {f"spark.{k}": v for k, v in engine.items()}
    m["spark.slot_busy_frac"] = engine.get("task_s", 0.0) / (wall * slots)
    m["manifest.scan_amplification"] = engine.get("scan_rows", 0) / wl.rows
    m.update(profile)
    m["udf.rows"] = udf_rows
    m["pipeline.plan_s"] = total("pipeline.plan")
    bookkeeping = 0.0
    for s in spans:
        if s["name"] == "manifest.run":
            inner = [d for d in tracer.descendants(s["id"]) if d["name"] in ("catalog.write", "pipeline.plan")]
            bookkeeping += (s["end"] - s["start"]) - sum(d["end"] - d["start"] for d in inner)
    m["manifest.bookkeeping_s"] = bookkeeping
    m["manifest.resume_s"] = total("manifest.resume")
    m["manifest.buckets_run"] = getattr(wl, "summary", {}).get("first", {}).get("buckets_run", 0)
    for op in ("write", "append", "read"):
        m[f"catalog.{op}_s"] = total(f"catalog.{op}")
    m["catalog.calls"] = sum(1 for s in spans if s["name"].startswith("catalog."))
    for step in ("exact", "pairs", "components", "decisions"):
        m[f"stages.{step}_s"] = sum(
            s["end"] - s["start"] for s in spans if s.get("step") == step
        )
    m["dedup.pairs"] = getattr(wl, "summary", {}).get("stage_rows", {}).get("pairs", 0)
    m["dedup.components"] = getattr(wl, "components", 0)
    m["trace.unattributed_frac"] = tracer.uncovered(job_span) / wall
    return m


def measure(spark, wl, args, slots: int, tracer) -> dict:
    """The closed loop: job calls back to back for args.seconds (and at
    least MIN_CALLS), each output checked outside the timed
    interval. A traced run orders its calls untraced, traced, traced,
    untraced (repeating), so warm-up drift cancels in
    trace.overhead_frac."""
    from spans import (
        EngineStats,
        cpu_times,
        peak_rss_mb,
        product_modules,
        python_udf_rows,
        python_workers,
        steal_share,
        udf_profile,
        wrapped_layers,
    )

    sc = spark.sparkContext
    engine = EngineStats(spark)
    modules = product_modules(os.path.join(ROOT, "go_pkg_spider_spark"))
    udf_seen: set = set()
    python_udf_rows(spark, udf_seen)  # mark the warm-up executions as seen
    res = {"walls": {False: [], True: []}, "rates": [], "layers": [], "rss": 0.0,
           "attempted": 0, "failed": 0}
    trace = tracer.enabled
    min_calls = 4 if trace else MIN_CALLS
    start = time.monotonic()
    while res["attempted"] < min_calls or time.monotonic() - start < args.seconds:
        traced = tracer.enabled = trace and res["attempted"] % 4 in (1, 2)
        res["attempted"] += 1
        call = res["attempted"]
        group = f"it{call}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        if traced:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with wrapped_layers(tracer, sc) if traced else contextlib.nullcontext():
                t, cpu0 = time.monotonic(), cpu_times()
                with tracer.span("job", call=call) as job_rec:
                    out = wl.job(spark, call, tracer)
                wall = time.monotonic() - t
                stolen = steal_share(cpu0, cpu_times())
            errors = wl.check(out)
        except Exception:  # noqa: BLE001 — a failed job counts, the loop goes on
            errors = [traceback.format_exc()]
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            sc.setLocalProperty("spark.jobGroup.id", None)
        res["rss"] = max(res["rss"], peak_rss_mb(python_workers(os.getpid())))
        udf_rows = python_udf_rows(spark, udf_seen)
        profile = udf_profile(spark, modules) if traced else {}
        if errors:
            res["failed"] += 1
            log(f"call {call} FAILED ({len(errors)} errors): " + "; ".join(errors[:3]))
            continue
        res["walls"][traced].append(wall)
        if traced:
            res["layers"].append(
                layer_metrics(
                    wl, tracer, job_rec["id"], engine.for_group(group),
                    profile, udf_rows, wall, slots,
                )
            )
        else:
            res["rates"].append(wl.rows / wall)
        log(f"call {call} {'traced ' if traced else ''}wall {wall:.3f}s, host steal {stolen:.1%}")
        shutil.rmtree(out, ignore_errors=True)
    tracer.enabled = trace
    return res


def run(args) -> dict:
    slots = len(os.sched_getaffinity(0))
    launcher_env()
    kill_leftover_jvms()
    sys.path.insert(0, ROOT)
    import go_pkg_spider_spark  # noqa: F401 — fails fast outside a full checkout

    import workloads
    from spans import Tracer

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = workloads.WORKLOADS[args.workload](work, args.seed, slots)

    setup = {}
    t0 = time.monotonic()
    wl.generate()
    setup["datagen.gen_s"] = time.monotonic() - t0
    wl.prepare()  # expected outputs: a check cost, not set-up
    t0 = time.monotonic()
    spark = start_session(slots)
    setup["session.start_s"] = time.monotonic() - t0
    try:
        # warm-up: one untimed job on the same input starts the Python
        # worker pool and compiles the JVM code paths (never via limit())
        t0 = time.monotonic()
        shutil.rmtree(wl.job(spark, 0, Tracer(False)))
        setup["warmup.s"] = time.monotonic() - t0
        setup_s = sum(setup.values())
        log(f"set-up {setup_s:.2f}s " + " ".join(f"{k}={v:.2f}" for k, v in setup.items()))

        tracer = Tracer(bool(args.trace))
        with tracer.span("run", workload=wl.name, seed=args.seed):
            res = measure(spark, wl, args, slots, tracer)
    finally:
        stop_session(spark)

    walls = res["walls"]
    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json"))
        metrics = {
            k: median([m.get(k, 0.0) for m in res["layers"]])
            for k in PER_LAYER
            if k not in setup
        }
        metrics.update(setup)
        base = median(walls[False])
        metrics["trace.overhead_frac"] = median(walls[True]) / base - 1 if base else 0.0
        units = PER_LAYER
    else:
        metrics = {
            "rows_per_s": median(res["rates"]),
            "wall_s": median(walls[False]),
            "setup_s": setup_s,
            "worker_peak_rss_mb": res["rss"],
        }
        units = END_TO_END
    n = {False: len(walls[False]), True: len(walls[True])}
    for k, unit in units.items():
        log(f"{wl.name} {k} = {metrics[k]:.6g} {unit} (median of n={n[bool(args.trace)]})")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    result = run(args)
    shutil.rmtree(os.path.join(WORK, args.workload), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
