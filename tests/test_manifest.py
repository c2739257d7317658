"""Checkpoint/resume: an interrupted run resumes from the manifest
without reprocessing committed buckets, its output equals an
uninterrupted run's, and resume NEVER serves a bucket whose committed
output embodies different parameters (params_sig gate, round 6 —
mirrors io/stages.StageRunner's guarantee)."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from go_pkg_spider_spark import pipeline
from go_pkg_spider_spark.io import manifest
from go_pkg_spider_spark.io.catalog import Catalog
from go_pkg_spider_spark.io.manifest import (
    MANIFEST_SCHEMA,
    MANIFEST_TABLE,
    ManifestedRun,
    bucket_of,
)


def _table(cat, table):
    """`table` under cat's root, with the schema Spark infers from its
    files."""
    return cat.spark.read.parquet(os.path.join(cat.root, table))


def _transform(df):
    return pipeline.run_pipeline(df)


def _sig(num_buckets, params=None):
    return json.dumps({**(params or {}), "num_buckets": num_buckets}, sort_keys=True)


def _commit_one_bucket(spark, cat, clips, bucket, num_buckets, table="decisions"):
    """Commits one bucket the way a one-bucket wave of ManifestedRun.run
    does (same `table/bucket=b` layout, same done row) — used to
    simulate a crash after a partial run."""
    part = clips.filter(bucket_of(F.col("clip_id"), num_buckets) == bucket)
    cat.write(_transform(part), f"{table}/bucket={bucket}")
    hist = {
        r.drop_reason or "": r["count"]
        for r in _table(cat, f"{table}/bucket={bucket}").groupBy("drop_reason").count().collect()
    }
    row = [
        (
            bucket, "done", sum(hist.values()), hist.get("", 0), hist, 1.0,
            "crashed", int(time.time()), _sig(num_buckets), 0,
        )
    ]
    cat.append(row, MANIFEST_SCHEMA, MANIFEST_TABLE)


def test_full_run_then_nothing_pending(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "full"))
    run = ManifestedRun(spark, cat, num_buckets=3, run_id="r1")
    s = run.run(clips, _transform, "decisions")
    assert s == {"buckets_run": 3, "buckets_skipped": 0}
    # a second run over the same manifest does nothing
    run2 = ManifestedRun(spark, cat, num_buckets=3, run_id="r2")
    assert run2.pending_buckets() == []
    s2 = run2.run(clips, _transform, "decisions")
    assert s2 == {"buckets_run": 0, "buckets_skipped": 3}


def test_resume_after_crash_matches_uninterrupted(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)

    cat_a = Catalog(spark, str(tmp_path / "a"))
    ManifestedRun(spark, cat_a, num_buckets=3, run_id="a").run(
        clips, _transform, "decisions"
    )

    # crash scenario: bucket 0 committed, then the driver died
    cat_b = Catalog(spark, str(tmp_path / "b"))
    _commit_one_bucket(spark, cat_b, clips, bucket=0, num_buckets=3)

    resume = ManifestedRun(spark, cat_b, num_buckets=3, run_id="resume")
    assert resume.pending_buckets() == [1, 2]
    s = resume.run(clips, _transform, "decisions")
    assert s == {"buckets_run": 2, "buckets_skipped": 1}

    a_rows = sorted(
        tuple(r) for b in range(3) for r in _table(cat_a, f"decisions/bucket={b}").collect()
    )
    b_rows = sorted(
        tuple(r) for b in range(3) for r in _table(cat_b, f"decisions/bucket={b}").collect()
    )
    assert a_rows == b_rows and len(a_rows) == clips.count()


def test_manifest_metrics(spark, clips_path, tmp_path):
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "m"))
    ManifestedRun(spark, cat, num_buckets=2, run_id="m").run(
        clips, _transform, "decisions"
    )
    rows = _table(cat, MANIFEST_TABLE).filter(F.col("status") == "done").collect()
    assert len(rows) == 2
    assert sum(r.input_rows for r in rows) == clips.count()
    assert all(r.status == "done" and r.wall_sec > 0 for r in rows)
    # each bucket's histogram and counts equal its committed output's
    for r in rows:
        hist = {
            x.drop_reason or "": x["count"]
            for x in _table(cat, f"decisions/bucket={r.bucket}")
            .groupBy("drop_reason").count().collect()
        }
        assert r.drop_histogram == hist
        assert r.input_rows == sum(hist.values())
        assert r.kept_rows == hist.get("", 0)
    assert any("too_short" in r.drop_histogram for r in rows)
    # every row carries the fingerprint resume will check
    assert all(r.params_sig == _sig(2) for r in rows)


def test_param_change_invalidates_buckets(spark, clips_path, tmp_path):
    """The A -> B -> A staleness hole (VERDICT r5 #1): after a run with
    different params overwrote the bucket outputs, the ORIGINAL sig's
    historical done rows must not satisfy resume."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "p"))

    pa = {"min_chars": 64, "scrub_bank": "v1"}
    run_a = ManifestedRun(spark, cat, 3, "a", params=pa)
    sa = run_a.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=64),
                   "decisions")
    assert sa == {"buckets_run": 3, "buckets_skipped": 0}

    # knob change -> nothing resumable, all buckets rerun
    pb = {"min_chars": 256, "scrub_bank": "v1"}
    run_b = ManifestedRun(spark, cat, 3, "b", params=pb)
    assert run_b.pending_buckets() == [0, 1, 2]
    sb = run_b.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=256),
                   "decisions")
    assert sb == {"buckets_run": 3, "buckets_skipped": 0}

    # back to A: the on-disk buckets embody B's params — must rerun,
    # not serve B tables under A's name
    run_a2 = ManifestedRun(spark, cat, 3, "a2", params=pa)
    assert run_a2.pending_buckets() == [0, 1, 2]
    sa2 = run_a2.run(clips, lambda df: pipeline.run_pipeline(df, min_chars=64),
                     "decisions")
    assert sa2 == {"buckets_run": 3, "buckets_skipped": 0}
    # and an identical-params rerun resumes fully
    run_a3 = ManifestedRun(spark, cat, 3, "a3", params=pa)
    assert run_a3.pending_buckets() == []


def test_num_buckets_change_invalidates(spark, clips_path, tmp_path):
    """Bucket ids don't align across num_buckets changes — the count is
    part of the fingerprint, so changing it reruns everything."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "nb"))
    ManifestedRun(spark, cat, 2, "a").run(clips, _transform, "decisions")
    run2 = ManifestedRun(spark, cat, 4, "b")
    assert run2.pending_buckets() == [0, 1, 2, 3]


def test_crash_mid_overwrite_reruns(spark, clips_path, tmp_path):
    """A `running` row is appended before the bucket output is touched;
    if the driver dies before the done row lands, the bucket's latest
    row is `running` and resume reruns it."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "c"))
    run = ManifestedRun(spark, cat, 2, "a")
    run.run(clips, _transform, "decisions")
    # simulate: a rerun appended its running row, then crashed mid-write
    run2 = ManifestedRun(spark, cat, 2, "b")
    run2._append_rows("running", [1])
    resume = ManifestedRun(spark, cat, 2, "c")
    assert resume.pending_buckets() == [1]


def test_legacy_manifest_without_sig_reruns(spark, clips_path, tmp_path):
    """Pre-params_sig manifests (no such column) never match the current
    sig — conservative full rerun rather than trusting unknown-knob
    outputs."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "legacy"))
    # a legacy manifest, written by Spark as manifests were then: done
    # rows without params_sig/seq
    legacy = spark.createDataFrame(
        [(0, "done", 10, 8, {"": 8}, 1.0, "old", int(time.time()))],
        "bucket int, status string, input_rows long, kept_rows long, "
        "drop_histogram map<string,long>, wall_sec double, run_id string, "
        "committed_at_unix long",
    )
    legacy.write.mode("append").parquet(f"{cat.root}/{MANIFEST_TABLE}")
    run = ManifestedRun(spark, cat, 2, "new")
    assert run.pending_buckets() == [0, 1]


def test_same_second_tie_is_not_done(spark, clips_path, tmp_path):
    """Two rows tied on (committed_at, seq) — e.g. two legacy writers in
    one second — are ambiguous about the table on disk: NOT done."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "tie"))
    now = int(time.time())
    sig = _sig(2)
    rows = [
        (0, "done", 10, 8, {"": 8}, 1.0, "w1", now, sig, None),
        (0, "done", 10, 8, {"": 8}, 1.0, "w2", now, sig, None),
        (1, "done", 10, 8, {"": 8}, 1.0, "w1", now, sig, 5),
    ]
    cat.append(rows, MANIFEST_SCHEMA, MANIFEST_TABLE)
    run = ManifestedRun(spark, cat, 2, "r")
    # bucket 0 tied -> rerun; bucket 1 has a unique latest done row -> kept
    assert run.pending_buckets() == [0]


def _latest_status(cat) -> dict[int, str]:
    latest = {}
    for r in _table(cat, MANIFEST_TABLE).collect():
        key = (r.committed_at_unix, r.seq)
        if r.bucket not in latest or key > latest[r.bucket][0]:
            latest[r.bucket] = (key, r.status)
    return {b: st for b, (_, st) in latest.items()}


def test_emptied_bucket_is_cleared(spark, clips_path, tmp_path):
    """A pending bucket that gets no input rows still has its stale
    output replaced (by nothing) and gets a done row with 0 input
    rows — a dynamic partition overwrite alone would leave it as is."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "e"))
    ManifestedRun(spark, cat, 3, "a", params={"min_chars": 64}).run(
        clips, lambda df: pipeline.run_pipeline(df, min_chars=64), "decisions"
    )
    assert _table(cat, "decisions").filter(F.col("bucket") == 1).count() > 0

    subset = clips.filter(bucket_of(F.col("clip_id"), 3) != 1)
    s = ManifestedRun(spark, cat, 3, "b", params={"min_chars": 256}).run(
        subset, lambda df: pipeline.run_pipeline(df, min_chars=256), "decisions"
    )
    assert s == {"buckets_run": 3, "buckets_skipped": 0}
    out = _table(cat, "decisions")
    assert out.filter(F.col("bucket") == 1).count() == 0
    assert out.count() == subset.count()
    done = _table(cat, MANIFEST_TABLE).filter(
        (F.col("run_id") == "b") & (F.col("status") == "done")
    )
    row = done.filter(F.col("bucket") == 1).collect()
    assert [(r.input_rows, r.kept_rows, r.drop_histogram) for r in row] == [(0, 0, {})]
    assert _latest_status(cat) == {0: "done", 1: "done", 2: "done"}


def test_empty_input_commits_every_bucket(spark, clips_path, tmp_path):
    """A wave whose every bucket is empty writes no partition at all;
    its buckets are still committed, each with 0 input rows."""
    clips = spark.read.parquet(clips_path).filter(F.lit(False))
    cat = Catalog(spark, str(tmp_path / "z"))
    s = ManifestedRun(spark, cat, 2, "z").run(clips, _transform, "decisions")
    assert s == {"buckets_run": 2, "buckets_skipped": 0}
    rows = _table(cat, MANIFEST_TABLE).filter(F.col("status") == "done").collect()
    assert sorted((r.bucket, r.input_rows) for r in rows) == [(0, 0), (1, 0)]


def test_multi_wave_crash_then_resume(spark, clips_path, tmp_path, monkeypatch):
    """5 buckets in waves of 2: a crash in wave 2 leaves wave 1 done,
    wave 2's latest rows `running` and wave 3 without rows. Resume
    runs exactly the unfinished buckets, and the output equals an
    uninterrupted run's."""
    monkeypatch.setattr(manifest, "BUCKETS_PER_WAVE", 2)
    clips = spark.read.parquet(clips_path)
    cat_a = Catalog(spark, str(tmp_path / "a"))
    ManifestedRun(spark, cat_a, 5, "a").run(
        clips, _transform, "decisions"
    )

    calls = []

    def crash_on_second_wave(df):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated crash")
        return _transform(df)

    cat_b = Catalog(spark, str(tmp_path / "b"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        ManifestedRun(spark, cat_b, 5, "crash").run(
            clips, crash_on_second_wave, "decisions"
        )
    assert _latest_status(cat_b) == {0: "done", 1: "done", 2: "running", 3: "running"}

    resume = ManifestedRun(spark, cat_b, 5, "resume")
    assert resume.pending_buckets() == [2, 3, 4]
    s = resume.run(clips, _transform, "decisions")
    assert s == {"buckets_run": 3, "buckets_skipped": 2}
    assert _latest_status(cat_b) == {b: "done" for b in range(5)}

    a_rows = sorted(tuple(r) for r in _table(cat_a, "decisions").collect())
    b_rows = sorted(tuple(r) for r in _table(cat_b, "decisions").collect())
    assert a_rows == b_rows and len(a_rows) == clips.count()


def test_one_wave_costs_the_same_spark_jobs_for_more_buckets(spark, clips_path, tmp_path):
    """The per-wave cost guard: a one-wave run starts a fixed number
    of Spark jobs however many buckets the wave holds."""
    clips = spark.read.parquet(clips_path)
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 4):
        group = f"manifest-cost-{n}"
        sc.setJobGroup(group, f"{n} buckets in one wave")
        try:
            ManifestedRun(spark, Catalog(spark, str(tmp_path / f"n{n}")), n, "j").run(
                clips, _transform, "decisions"
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs[4] <= jobs[2]


def test_local_frame_round_trips_as_a_local_relation(spark):
    """The helper driver-built frames go through (an Iceberg manifest
    append too): the values come back exactly (a seq-sized int64
    beside a NULL, which a pandas float64 column would round, and a map
    that is NULL or empty),
    and the plan is a LocalTableScan, not a scan of a parallelized
    Python RDD."""
    from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

    from go_pkg_spider_spark.session import local_frame

    schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("hist", MapType(StringType(), LongType())),
            StructField("status", StringType(), False),
        ]
    )
    big = 1_760_000_000_123_456_789  # > 2**53
    rows = [(None, None, "running"), (big, {}, "done"), (big + 1, {"": 3, "x": 2**60}, "done")]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
    for frame in (df, empty):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_manifest_append_and_read_start_no_spark_job(spark, tmp_path, jobs_of):
    """On parquet an append is one file written from the driver and a
    read is a driver-side scan: neither starts a Spark job. The rows
    read back are the rows appended, a map as a dict and a NULL map
    as None, and Spark reads the same file to the same rows."""
    cat = Catalog(spark, str(tmp_path / "io"))
    rows = [
        {"bucket": 0, "status": "running", "run_id": "r"},
        {"bucket": 1, "status": "done", "input_rows": 3, "kept_rows": 1,
         "drop_histogram": {"": 1, "too_short": 2}, "wall_sec": 0.5,
         "run_id": "r", "params_sig": "s"},
    ]
    _, append_jobs = jobs_of(lambda: manifest.append_rows(cat, "m", MANIFEST_SCHEMA, rows))
    got, read_jobs = jobs_of(lambda: manifest.read_manifest(cat, "m", MANIFEST_SCHEMA))
    assert (append_jobs, read_jobs) == (0, 0)
    assert manifest.read_manifest(cat, "absent", MANIFEST_SCHEMA) == []
    stamp = {"committed_at_unix": got[0].committed_at_unix, "seq": got[0].seq}
    assert stamp["seq"] // 1_000_000_000 == stamp["committed_at_unix"]
    want = [
        tuple({**r, **stamp}.get(f.name) for f in MANIFEST_SCHEMA.fields) for r in rows
    ]
    assert sorted(tuple(r) for r in got) == want
    assert list(got[0].asDict()) == MANIFEST_SCHEMA.fieldNames()
    assert sorted(tuple(r) for r in cat.read("m", schema=MANIFEST_SCHEMA).collect()) == want


def test_resume_with_every_bucket_done_starts_no_spark_job(
    spark, clips_path, tmp_path, jobs_of
):
    """A resume pass over a manifest whose buckets are all done reads
    the manifest on the driver and commits nothing: 0 Spark jobs."""
    clips = spark.read.parquet(clips_path)
    cat = Catalog(spark, str(tmp_path / "resume"))
    ManifestedRun(spark, cat, 3, "a").run(clips, _transform, "decisions")
    s, jobs = jobs_of(
        lambda: ManifestedRun(spark, cat, 3, "b").run(clips, _transform, "decisions")
    )
    assert s == {"buckets_run": 0, "buckets_skipped": 3}
    assert jobs == 0


def test_spark_written_and_driver_written_manifest_files_mix(spark, tmp_path):
    """A manifest holding files Spark wrote before the driver-side
    appends (legacy ones without params_sig, seq or a newer column, and
    full-schema ones) and files the driver wrote reads to the same
    latest rows as a Spark read of the table under the known schema,
    which is how the manifest was read before."""
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA

    root = tmp_path / "mixed"
    cat = Catalog(spark, str(root))
    now = int(time.time())
    spark.createDataFrame(
        [(0, "done", 10, 8, {"": 8}, 1.0, "old", now - 9),
         (1, "done", 5, 5, {"": 5}, 1.0, "old", now - 9)],
        "bucket int, status string, input_rows long, kept_rows long, "
        "drop_histogram map<string,long>, wall_sec double, run_id string, "
        "committed_at_unix long",
    ).write.mode("append").parquet(f"{root}/{MANIFEST_TABLE}")
    spark.createDataFrame(
        [(1, "running", None, None, None, None, "spark", now - 5, _sig(4), 1),
         (2, "done", 4, 1, {"": 1, "x": 3}, 2.0, "spark", now - 5, _sig(4), 2)],
        MANIFEST_SCHEMA,
    ).write.mode("append").parquet(f"{root}/{MANIFEST_TABLE}")
    manifest.append_rows(
        cat, MANIFEST_TABLE, MANIFEST_SCHEMA,
        [{"bucket": 1, "status": "done", "input_rows": 5, "kept_rows": 4,
          "drop_histogram": {"": 4, "too_short": 1}, "run_id": "driver",
          "params_sig": _sig(4)},
         {"bucket": 3, "status": "running", "run_id": "driver"}],
    )
    got = manifest.read_manifest(cat, MANIFEST_TABLE, MANIFEST_SCHEMA)
    spark_read = spark.read.schema(MANIFEST_SCHEMA).parquet(f"{root}/{MANIFEST_TABLE}")
    assert sorted(map(tuple, got)) == sorted(map(tuple, spark_read.collect()))
    latest = manifest.latest_rows(got, "bucket")
    assert latest == manifest.latest_rows(spark_read.collect(), "bucket")
    assert {b: (r.status, r.run_id) for b, r in latest.items()} == {
        0: ("done", "old"), 1: ("done", "driver"), 2: ("done", "spark"), 3: ("running", "driver"),
    }
    assert latest[0].params_sig is None and latest[0].seq is None
    assert ManifestedRun(spark, cat, 4, "r").pending_buckets() == [0, 3]
    # a stage manifest file from before the histogram and schema columns
    old = StructType(
        [f for f in STAGE_MANIFEST_SCHEMA.fields if f.name not in ("histogram", "schema")]
    )
    spark.createDataFrame(
        [("a", "done", 7, {"params_sig": "s"}, 1.0, "old", now, 3)], old
    ).write.mode("append").parquet(f"{root}/stages")
    manifest.append_rows(cat, "stages", STAGE_MANIFEST_SCHEMA,
                         [{"stage": "b", "status": "done", "rows": 2, "schema": "{}"}])
    got = manifest.read_manifest(cat, "stages", STAGE_MANIFEST_SCHEMA)
    spark_read = spark.read.schema(STAGE_MANIFEST_SCHEMA).parquet(f"{root}/stages")
    assert sorted(map(tuple, got)) == sorted(map(tuple, spark_read.collect()))
    assert {r.stage: (r.histogram, r.schema) for r in got} == {
        "a": (None, None), "b": (None, "{}"),
    }


def test_a_leftover_temporary_file_is_ignored(spark, tmp_path):
    """An append killed between its write and its rename leaves a
    hidden `.`-prefixed file; neither the manifest read nor Spark sees
    it."""
    cat = Catalog(spark, str(tmp_path / "tmp"))
    manifest.append_rows(cat, "m", MANIFEST_SCHEMA, [{"bucket": 0, "status": "done"}])
    table = tmp_path / "tmp" / "m"
    (data,) = [f for f in os.listdir(table) if not f.startswith(".")]
    shutil.copy(table / data, table / f".{data}.tmp")
    assert len(manifest.read_manifest(cat, "m", MANIFEST_SCHEMA)) == 1
    assert spark.read.parquet(str(table)).count() == 1
