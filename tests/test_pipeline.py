"""End-to-end pipeline tests: schema, decisions vs the frozen oracle
(FIXTURES.md §4), determinism, and plan shape (no shuffles in the
per-clip path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark import pipeline
from go_pkg_spider_spark.oracle import oracle_decide


def test_output_schema(spark, clips_path):
    out = pipeline.run_pipeline(spark.read.parquet(clips_path))
    assert [f.name for f in out.schema.fields] == pipeline.OUTPUT_COLUMNS
    assert out.count() == 300


def test_matches_frozen_oracle_f1(spark, clips_path):
    """Keep/drop decisions + scrub text must match the frozen pure-Python
    oracle implementing the same cascade at F1>=0.99 / exact scrub
    (BASELINE.md decision quality)."""
    out = (
        pipeline.run_pipeline(spark.read.parquet(clips_path))
        .select("clip_id", "keep", "drop_reason", "lang", "scrubbed_transcript")
        .collect()
    )
    src = {
        r.clip_id: r
        for r in spark.read.parquet(clips_path)
        .select("clip_id", "bytes", "codec", "sr_hz", "transcript")
        .collect()
    }
    tp = fp = fn = tn = 0
    scrub_mismatch = 0
    for r in out:
        s = src[r.clip_id]
        want = oracle_decide(s.bytes, s.codec, s.sr_hz, s.transcript)
        if r.keep and want.keep:
            tp += 1
            if r.scrubbed_transcript != want.scrubbed_transcript:
                scrub_mismatch += 1
        elif r.keep and not want.keep:
            fp += 1
        elif not r.keep and want.keep:
            fn += 1
        else:
            tn += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 >= 0.99, (tp, fp, fn, tn)
    assert scrub_mismatch == 0


def test_deterministic(spark, clips_path):
    df = spark.read.parquet(clips_path)
    a = pipeline.run_pipeline(df).orderBy("clip_id").collect()
    b = pipeline.run_pipeline(df).orderBy("clip_id").collect()
    assert a == b


def test_stereo_and_hires_flac_through_production_pipeline(spark):
    """Round 7: stereo-decorrelated and 24-bit FLAC clips must decode
    through the PRODUCTION surface (run_pipeline's fused Arrow UDF),
    not just the entry-query operators. The stereo clip's channels are
    m±d, so its decoded features must equal the mono twin clip's
    EXACTLY; the 24-bit clip carries the same sine at hi-res width."""
    import numpy as np

    from go_pkg_spider_spark.operators.flac import (
        encode_flac_pcm,
        encode_flac_s16,
        encode_flac_s16_stereo,
    )
    from go_pkg_spider_spark.schemas import CLIPS_SCHEMA

    sr = 8000
    t = np.arange(2 * sr, dtype=np.float64) / sr
    m = (0.5 * np.sin(2 * np.pi * 220 * t) * 32767).astype(np.int64)
    d = (0.2 * np.sin(2 * np.pi * 333 * t) * 32767).astype(np.int64)
    text = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        ("mono", bytes(encode_flac_s16(m.astype("<i2"), sr)), sr, 2000, "flac", text),
        (
            "stereo-ms",
            bytes(encode_flac_s16_stereo(m + d, m - d, sr, mode="mid_side")),
            sr, 2000, "flac", text,
        ),
        (
            "stereo-ls",
            bytes(
                encode_flac_s16_stereo(
                    m + d, m - d, sr, mode="left_side", subframes=("fixed", "lpc")
                )
            ),
            sr, 2000, "flac", text,
        ),
        (
            "hires24",
            bytes(encode_flac_pcm(m * 256, sr, bps=24, subframe="fixed")),
            sr, 2000, "flac", text,
        ),
    ]
    df = spark.createDataFrame(rows, CLIPS_SCHEMA)
    out = {r.clip_id: r for r in pipeline.run_pipeline(df, with_features=True).collect()}
    assert len(out) == 4
    for cid in ("mono", "stereo-ms", "stereo-ls", "hires24"):
        a = out[cid].audio
        assert a.ok and a.err is None, (cid, a)
        assert a.n_samples == 2 * sr and a.sr_decoded == sr
    # stereo m±d downmixes to EXACTLY the mono clip's samples
    for cid in ("stereo-ms", "stereo-ls"):
        assert out[cid].audio == out["mono"].audio, cid
    # 24-bit m<<8 is the same waveform within one 16-bit quantum
    assert abs(out["hires24"].audio.rms - out["mono"].audio.rms) < 1e-4
    # and the text-side decision is identical across payload forms
    assert len({(out[c].keep, out[c].lang) for c in out}) == 1


def test_no_shuffle_in_per_clip_path(spark, clips_path):
    """The per-clip pipeline must be narrow-only: a single stage with no
    Exchange in the physical plan (SURVEY.md §3.1 'one stage, zero
    shuffles')."""
    out = pipeline.run_pipeline(spark.read.parquet(clips_path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_salted_repartition_deterministic(spark, clips_path):
    df = spark.read.parquet(clips_path)
    out = pipeline.repartition_salted(df, 8)
    assert out.rdd.getNumPartitions() == 8
    assert out.count() == 300
