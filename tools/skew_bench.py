"""Adversarial-skew pipeline datapoint (round 8, VERDICT r7 #6): the
salting design (pipeline.repartition_salted) was test-pinned but the
clips pipeline had no MEASURED skew run. This tool
builds an sf0.1-scale corpus with a heavy long-transcript tail (1% of
rows at 400x the transcript — CPU-dense, byte-light; see the module
note below for why the tail is NOT byte-heavy), lays it out two ways,
and measures the pipeline wall at local[32]:

- CLUSTERED (adversarial): rows sorted so the whole heavy tail packs
  into one file -> one scan task owns the tail's entire CPU cost and
  the stage wall is that straggler.
- SALTED (the writer discipline): the same rows written through
  pipeline.repartition_salted -> the length-tier salt stripes heavy
  rows across partitions; per-partition heavy counts are asserted
  bounded (max <= 3x the mean) before timing.

Protocol: ABBA interleave, min-of-N per arm (the multi-tenant-host
rule). Prints one JSON line for BENCH/BASELINE.md.

Usage: python tools/skew_bench.py [n_rows=20000] [rounds=2]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

import numpy as np

HEAVY_EVERY = 100  # 1% heavy tail
HEAVY_X = 400  # transcript multiplier (~80KB of text per heavy row)
HEAVY_MIN_CHARS = 50_000  # heavy-row detector for the histograms
CORPUS = "/tmp/skew_bench_v2"

# Why the tail is TRANSCRIPT-heavy, not byte-heavy: a first run of this
# tool with a 10x-audio-bytes tail measured clustered ~= salted within
# host noise — Spark's size-based scan splitting (maxPartitionBytes)
# already breaks a byte-fat file into multiple tasks, so skew that is
# PROPORTIONAL TO BYTES is auto-mitigated by the engine. The skew class
# the salt exists for is per-row CPU cost INVISIBLE to the byte planner:
# a 400x transcript adds ~80KB of text (file size barely moves, no
# split rescue) but multiplies the JVM-side scrub/quality/token work,
# so a clustered layout serializes the whole tail into one task.


def _make(i: int):
    """Row i, pure function of i: datagen's row with every HEAVY_EVERY-th
    transcript multiplied HEAVY_X (CPU-dense, byte-light — see the
    module note). Audio stays normal so the byte planner sees a
    near-uniform file and cannot split-rescue the clustered layout."""
    from go_pkg_spider_spark import datagen

    cid, blob, sr, dur_ms, codec, transcript = datagen.make_row(i)
    if i % HEAVY_EVERY == 0:
        transcript = (transcript or "heavy clip transcript ") * HEAVY_X
    return (cid, blob, sr, dur_ms, codec, transcript)


def _build(spark, n_rows: int) -> None:
    """Two layouts of the SAME rows, generated DISTRIBUTED (the
    generate_clips_df mapInArrow shape — 2.5GB of blobs never visits
    the driver)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from go_pkg_spider_spark.pipeline import repartition_salted

    def gen(batches):
        for batch in batches:
            rows = [_make(int(i)) for i in batch.column("id").to_pylist()]
            cols = list(zip(*rows)) if rows else [[], [], [], [], [], []]
            yield pa.record_batch(
                {
                    "clip_id": pa.array(cols[0], pa.string()),
                    "bytes": pa.array(cols[1], pa.binary()),
                    "sr_hz": pa.array(cols[2], pa.int32()),
                    "dur_ms": pa.array(cols[3], pa.int32()),
                    "codec": pa.array(cols[4], pa.string()),
                    "transcript": pa.array(cols[5], pa.string()),
                }
            )

    df = spark.range(n_rows, numPartitions=64).mapInArrow(
        gen,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    heavy = F.length("transcript") >= HEAVY_MIN_CHARS

    # adversarial layout: heavy rows contiguous -> they bin-pack into
    # the same scan task(s)
    clustered = df.orderBy(heavy.desc(), "clip_id").coalesce(32)
    clustered.write.mode("overwrite").parquet(f"{CORPUS}/clustered")

    salted = repartition_salted(df, 64)
    salted.write.mode("overwrite").parquet(f"{CORPUS}/salted")


def _heavy_histogram(spark, path: str) -> dict:
    """Per-output-file heavy-row counts (a written file == one scan
    split here: files are well under maxPartitionBytes)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    heavy = F.length("transcript") >= HEAVY_MIN_CHARS
    per_file = (
        df.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.sum(heavy.cast("int")).alias("n_heavy"))
        .collect()
    )
    counts = sorted((r["n_heavy"] for r in per_file), reverse=True)
    return {
        "files": len(counts),
        "max_heavy_per_file": counts[0],
        "mean_heavy_per_file": round(float(np.mean(counts)), 2),
        "top5": counts[:5],
    }


def _run_pipeline(spark, path: str) -> float:
    from go_pkg_spider_spark.pipeline import run_pipeline

    df = spark.read.parquet(path)
    t0 = time.monotonic()
    # noop write materializes EVERY output column (a bare count() lets
    # Catalyst prune the whole fused UDF — the limit()/count() bench
    # trap, BENCH/BASELINE.md scale lesson #4)
    run_pipeline(df).write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 2)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from go_pkg_spider_spark.session import get_spark

    spark = get_spark(app_name="skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{CORPUS}/salted"):
        _build(spark, n_rows)

    hist = {
        layout: _heavy_histogram(spark, f"{CORPUS}/{layout}")
        for layout in ("clustered", "salted")
    }
    # the salt's contract BEFORE timing: heavy rows spread — the max
    # per-file count is within 3x of the mean (clustered packs the
    # whole tail into 1-2 files by construction)
    s = hist["salted"]
    assert s["max_heavy_per_file"] <= max(3 * s["mean_heavy_per_file"], 3), s

    walls = {"clustered": [], "salted": []}
    for _ in range(rounds):
        for layout in ("clustered", "salted", "salted", "clustered"):  # ABBA
            walls[layout].append(_run_pipeline(spark, f"{CORPUS}/{layout}"))
    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "heavy_pct": 100 / HEAVY_EVERY,
                "heavy_x": HEAVY_X,
                "histogram": hist,
                "walls_sec": walls,
                "clustered_min": min(walls["clustered"]),
                "salted_min": min(walls["salted"]),
                "speedup": round(min(walls["clustered"]) / min(walls["salted"]), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
