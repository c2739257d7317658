"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is the end-to-end clips pipeline (decode -> langid
-> quality -> keep/drop -> scrub) wall-clock over a deterministic
generated clips table sized to the SF tier, because that is the
north_rule workload; per-query timings cover the operator families.

Every timing materializes via the noop sink (full evaluation; count()
would let Catalyst prune projections).

Noise protocol (hardened round 6, VERDICT r5 #3): the host is
multi-tenant and identical runs vary 2-10x. Each entry is timed
min-of-PASSES with the passes INTERLEAVED ABBA-style across the whole
query list (pass 1 forward, passes 2-3 reverse, pass 4 forward) so one
contended host window lands in at most one or two of each entry's runs
— back-to-back min-of-2 could not reject a window that covered both
runs (BENCH_r05: uniform 1.5-3x inflation on every sub-second entry).
Raw per-run times go to BENCH/bench_raw_runs_<cpus>core_sf<sf>.json
(referenced by its repo-relative path from the printed line) so noise
stays adjudicable without bloating the one-line artifact a truncating
capture could cut (VERDICT r6 #1). The name carries the core count and
SF, so a run at one setting never overwrites the raw runs of another.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# clips rows per SF tier (deterministic; generation cached in /tmp)
CLIPS_BY_SF = {"sf0.001": 500, "sf0.01": 5_000, "sf0.1": 50_000, "sf1": 500_000}

# the bench covers EVERY queries() entry (registration order) so a
# regression anywhere the correctness gate looks is visible here too;
# BENCH_QUERIES is resolved at runtime from the entry surface.
BENCH_QUERIES: list[str] | None = None  # None = all entry.queries()

# ABBA-interleaved passes per entry; min-of-PASSES is the reported
# number. 4 is the driver protocol; drop to 1-2 for local iteration.
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "4"))


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def clips_path(sf_name: str, spark) -> str:
    n = CLIPS_BY_SF.get(sf_name, 5_000)
    # v5: invalid-codec label mp3->speex (mp3 whitelisted round 8)
    # v4: real flac blobs (operators/flac.py); small parquet row groups
    # (binary-payload requirement — datagen.CLIPS_ROW_GROUP_SIZE)
    path = f"/tmp/bench_clips_v5_{sf_name}_{n}.parquet"
    if not os.path.exists(path):
        from go_pkg_spider_spark import datagen

        datagen.write_clips_with_spark(datagen.generate_clips_df(spark, n), path)
    return path


_JVM_OWNER_MARKER = "SPARK_GRAFT_JVM_OWNER"


def _kill_leftover_jvms() -> None:
    """Timed-out background runs leave SparkSubmit JVMs that steal cores
    from the bench (measured 2x walls). Kill only JVMs that carry this
    project's bench marker in their inherited environment (set below
    before the session launches) — a concurrent check_oracles or test
    session of the same user is NOT fair game (ADVICE r4). Log kills."""
    import signal
    import subprocess

    try:
        out = subprocess.run(
            ["pgrep", "-f", "org.apache.spark"], capture_output=True, text=True
        ).stdout
    except OSError:
        return

    def _ours(p: int) -> bool:
        try:
            with open(f"/proc/{p}/environ", "rb") as f:
                return f"{_JVM_OWNER_MARKER}=".encode() in f.read()
        except OSError:
            return False
    ancestors = set()
    pid = os.getpid()
    while pid > 1:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                # field 4 (ppid) counted AFTER the comm field, which is
                # parenthesized and may itself contain spaces/parens
                # ("tmux: server") — split after the LAST ')'
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    for line in out.split():
        try:
            p = int(line)
        except ValueError:
            continue
        if p not in ancestors and p != os.getpid() and _ours(p):
            try:
                os.kill(p, signal.SIGKILL)
                print(f"bench: killed leftover marked JVM pid={p}", file=sys.stderr)
            except OSError:
                pass


def main() -> None:
    # mark every JVM this process (and its spark workers) spawns so a
    # future bench can tell our leftovers from unrelated spark sessions
    os.environ[_JVM_OWNER_MARKER] = "bench"
    _kill_leftover_jvms()
    from go_pkg_spider_spark.session import get_spark
    from go_pkg_spider_spark import pipeline
    import __spark_entry__ as entry

    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    sf = float(sf_name.replace("sf", "") or 0.1)
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        # binary-heavy scans: finer splits (~2-4x cores) balance the
        # waves; 128m default gives ~1 task/core and straggler-bound
        # walls (BENCH/BASELINE.md lesson)
        extra_conf={"spark.sql.files.maxPartitionBytes": "32m"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # headline: end-to-end clips pipeline
    cpath = clips_path(sf_name, spark)
    clips = spark.read.parquet(cpath)
    n_clips = clips.count()
    # warm-up: (a) full-table byte scan so the first timed run is not a
    # cold-page-cache I/O measurement, (b) a 200-row UDF slice for
    # JIT/codegen/Arrow worker-pool init. NEVER warm up through limit():
    # the GlobalLimit plan funnels the whole UDF pipeline into one task
    # (measured 85s vs 14s for the same 500 rows with a filter).
    from pyspark.sql import functions as F

    clips.agg(F.sum(F.length("bytes"))).collect()
    _noop_write(pipeline.run_pipeline(clips.filter(F.col("clip_id") < "clip-000000000200")))

    # min-of-N timing: this host is multi-tenant and identical runs vary
    # 2-10x (measured 90.7s / 20.1s / 34.4s back-to-back); the minimum is
    # the only stable estimator of the code's actual cost. Raw per-run
    # times are kept so noise is adjudicable from the artifact alone.
    # Passes are ABBA-interleaved across the WHOLE entry list (see module
    # docstring): a noise window covers a contiguous time span, so
    # spreading each entry's runs across the span leaves at least one
    # clean run for min() to pick — back-to-back repeats of one entry sit
    # entirely inside the window and min() cannot reject it.
    qs = entry.queries()
    bench_entries: list[tuple[str, object]] = [
        ("clips_pipeline", lambda: _noop_write(pipeline.run_pipeline(clips)))
    ]
    for name in BENCH_QUERIES if BENCH_QUERIES is not None else list(qs):
        bench_entries.append(
            (name, lambda fn=qs[name]: _noop_write(fn(spark, SF_DIR)))
        )

    raw_runs: dict[str, list[float]] = {name: [] for name, _ in bench_entries}
    for p in range(PASSES):
        # A B B A direction pattern: consecutive passes reverse order so
        # an entry's runs are maximally separated in wall-clock time
        order = bench_entries if p % 3 == 0 else list(reversed(bench_entries))
        for name, thunk in order:
            t0 = time.monotonic()
            thunk()
            raw_runs[name].append(round(time.monotonic() - t0, 3))

    for name, _ in bench_entries:
        timings[name] = min(raw_runs[name])
    clips_sec = timings["clips_pipeline"]

    total = round(sum(timings.values()), 3)
    # Artifact self-containment (VERDICT r6 #1): the adjudicable part —
    # metric, clips_per_sec, per-entry mins — leads the ONE printed
    # line, and the bulky raw_runs arrays go to a SIDE FILE (referenced
    # by path) instead of riding the line: BENCH_r06.json was captured
    # tail-truncated mid-raw_runs and lost 13 entries INCLUDING the
    # headline. The side file lands in git with the round commit, so
    # noise stays adjudicable without bloating the captured line.
    raw_path = os.path.join("BENCH", f"bench_raw_runs_{CPUS}core_sf{sf}.json")
    abs_raw_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), raw_path)
    try:
        os.makedirs(os.path.dirname(abs_raw_path), exist_ok=True)
        with open(abs_raw_path, "w", encoding="utf-8") as f:
            json.dump(
                {"sf": sf, "cpus": CPUS, "passes": PASSES, "raw_runs": raw_runs},
                f,
            )
    except OSError:
        raw_path = None
    result = {
        "metric": "headline_total_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "clips": n_clips,
        "clips_per_sec": round(n_clips / clips_sec, 1),
        "cpus": CPUS,
        "n_entries": len(timings),
        "queries": timings,
        "raw_runs_file": raw_path,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
