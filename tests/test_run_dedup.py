"""Composed dedup job (jobs/run_dedup.py): end-to-end decisions on a
corpus with KNOWN exact/near duplicates, stage-manifest resume
idempotence, and the bucket-cap drop accounting surfacing in the
manifest metrics."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from go_pkg_spider_spark.io.manifest import latest_rows
from jobs.run_dedup import run_dedup


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for its hungry cubs "
    "before the cold winter arrives in the northern mountains"
)


def _corpus(spark):
    rows = []
    # exact-dup family: ids 0,1,2 share identical text (0 survives)
    for i in range(3):
        rows.append((i, BASE))
    # near-dup family on a DIFFERENT base text (so it doesn't also
    # near-match the exact family): 10,11 differ by one word (10 keeps)
    other = (
        "completely different story about seven sailors crossing the "
        "stormy southern ocean on a small wooden boat while singing old "
        "songs about their distant homes and long lost friends at night"
    )
    rows.append((10, other + " extra"))
    rows.append((11, other + " added"))
    # unique docs
    for i in range(20, 26):
        rows.append((i, f"document number {i} " + " ".join(f"w{i}x{j}" for j in range(40))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_job_decisions_and_resume(spark, tmp_path):
    docs = _corpus(spark)
    root = str(tmp_path / "dedup")

    s1 = run_dedup(spark, docs, root, run_id="t1", threshold=0.5)
    assert s1["stages_run"] == 4 and s1["stages_skipped"] == 0
    hist = s1["decision_histogram"]
    # 3 exact copies -> 2 exact losers; near-dup pair -> 1 near-dup loser
    assert hist["drop_exact_dup"] == 2
    assert hist["drop_near_dup"] == 1
    assert hist["keep"] == 11 - 3  # 11 rows, 2 exact + 1 near lost
    dec = {
        r.doc_id: r
        for r in spark.read.parquet(f"{root}/decisions").collect()
    }
    assert dec[0].decision == "keep" and dec[1].decision == "drop_exact_dup"
    # near-dup component labeled by its min member; min id kept
    assert dec[10].decision == "keep" and dec[11].decision == "drop_near_dup"
    assert dec[11].component == 10
    # bucket-cap accounting surfaced in the manifest metrics
    m = s1["metrics"]["pairs"]
    assert set(m) >= {"dropped_members", "max_bucket_members", "n_buckets"}
    assert int(m["dropped_members"]) == 0

    # resume: every stage skipped, decisions byte-identical
    s2 = run_dedup(spark, docs, root, run_id="t1", threshold=0.5)
    assert s2["stages_run"] == 0 and s2["stages_skipped"] == 4
    assert s2["decision_histogram"] == hist


def test_dedup_job_param_change_invalidates_resume(spark, tmp_path):
    """Rerunning the same output-root with a DIFFERENT threshold must
    rerun the chain, not skip to stale results (params_sig gate)."""
    docs = _corpus(spark)
    root = str(tmp_path / "dedup_params")
    s1 = run_dedup(spark, docs, root, run_id="a", threshold=0.5)
    assert s1["stages_run"] == 4
    # much higher threshold -> the near-dup pair no longer qualifies
    s2 = run_dedup(spark, docs, root, run_id="b", threshold=0.99)
    assert s2["stages_run"] == 4 and s2["stages_skipped"] == 0
    assert "drop_near_dup" not in s2["decision_histogram"]
    # and the matching invocation resumes again
    s3 = run_dedup(spark, docs, root, run_id="c", threshold=0.99)
    assert s3["stages_run"] == 0 and s3["stages_skipped"] == 4
    # A -> B -> A staleness hole (ADVICE r5 high): the ORIGINAL sig's
    # historical manifest rows must NOT satisfy resume — the stage
    # tables on disk were overwritten by the 0.99 run, so a third run
    # back at 0.5 has to rerun the chain, not silently return B tables
    s4 = run_dedup(spark, docs, root, run_id="d", threshold=0.5)
    assert s4["stages_run"] == 4 and s4["stages_skipped"] == 0
    assert s4["decision_histogram"] == s1["decision_histogram"]
    # the manifest is append-only: superseded rows stay, and the latest
    # row of every stage is run d's done row with run d's sig
    mrows = spark.read.parquet(f"{root}/dedup_manifest").collect()
    latest = latest_rows(mrows, "stage")
    assert sorted(latest) == ["components", "decisions", "exact", "pairs"]
    for stage, r in latest.items():
        assert (r.status, r.run_id) == ("done", "d"), r
        assert r.metrics["params_sig"] == s4["metrics"][stage]["params_sig"]
    assert s4["metrics"]["pairs"]["params_sig"] != s2["metrics"]["pairs"]["params_sig"]


def test_dedup_job_stratified_mix(spark, tmp_path):
    docs = _corpus(spark)
    root = str(tmp_path / "dedup_mix")
    s = run_dedup(spark, docs, root, run_id="t2", threshold=0.5, sample_rate=0.5)
    hist = s["decision_histogram"]
    # the mix only thins the KEEP set, deterministically by md5(id)
    assert hist["drop_exact_dup"] == 2 and hist["drop_near_dup"] == 1
    assert hist.get("keep", 0) + hist.get("drop_sample_miss", 0) == 8
    assert hist.get("drop_sample_miss", 0) > 0


def test_dedup_job_invariants_on_testdata(spark, tmp_path):
    """Structural invariants of the composed chain over the REAL
    documents corpus: every near-dup component keeps exactly its min
    member; exact losers point at their group's keeper; keep/drop
    decisions partition the corpus."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    root = str(tmp_path / "dedup_inv")
    s = run_dedup(spark, docs, root, run_id="inv", threshold=0.5)
    dec = spark.read.parquet(f"{root}/decisions")
    assert dec.count() == docs.count()
    # exact losers: same content hash as keeper, id > keeper
    groups = spark.read.parquet(f"{root}/exact")
    losers = dec.filter(F.col("decision") == "drop_exact_dup").join(
        groups, "content_md5"
    )
    assert losers.filter(F.col("doc_id") <= F.col("kept_id")).count() == 0
    # near-dup components: the kept row IS the component min; every
    # non-min member of a multi-doc component is dropped
    surv = dec.filter(F.col("decision") != "drop_exact_dup")
    comp_stats = surv.groupBy("component").agg(
        F.min("doc_id").alias("mn"),
        F.sum((F.col("decision") == "drop_near_dup").cast("int")).alias("n_drop"),
        F.count(F.lit(1)).alias("n"),
    )
    assert comp_stats.filter(F.col("n_drop") != F.col("n") - 1).count() == 0
    kept = surv.filter(F.col("decision") == "keep")
    bad_keeper = kept.join(comp_stats, "component").filter(
        F.col("doc_id") != F.col("mn")
    )
    assert bad_keeper.count() == 0
