"""StageRunner's commit protocol (io/stages.py): each commit appends a
`running` row, overwrites the stage table, then appends a `done` row,
so a crash mid-commit reruns the stage even when an older done row
carries the same params_sig. The manifest is only ever appended to."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_pkg_spider_spark.io.catalog import Catalog
from go_pkg_spider_spark.io.manifest import latest_rows
from go_pkg_spider_spark.io.stages import StageRunner

MANIFEST = "chain_manifest"


def _chain(spark, cat, run_id, src):
    """Stages a -> b. `src` feeds only a's fingerprint (stage_params), so
    changing it reruns a while b's own sig stays the same."""
    runner = StageRunner(
        spark, cat, MANIFEST, {"chain": 1}, run_id, stage_params={"a": {"src": src}}
    )
    if not runner.resumable("a"):
        runner.commit("a", spark.range(4).withColumn("v", F.lit(src)))
    if not runner.resumable("b"):
        runner.commit("b", cat.read("a").withColumn("w", F.col("v") * 10))
    return runner.summary


class _Crash(RuntimeError):
    pass


def test_crash_mid_commit_reruns_stage(spark, tmp_path):
    root = str(tmp_path / "chain")
    written = []

    def catalog(fail_on=None):
        cat = Catalog(spark, root)
        write = cat.write

        def recording_write(df, table, *args, **kwargs):
            written.append(table)
            if table == fail_on:
                raise _Crash(table)
            return write(df, table, *args, **kwargs)

        cat.write = recording_write
        return cat

    s1 = _chain(spark, catalog(), "r1", src=1)
    assert (s1["stages_run"], s1["stages_skipped"]) == (2, 0)

    # a's fingerprint changed: a reruns, then the driver dies inside b's
    # write. b's newest done row (run r1) still carries b's current sig.
    with pytest.raises(_Crash):
        _chain(spark, catalog(fail_on="b"), "r2", src=2)

    s3 = _chain(spark, catalog(), "r3", src=2)
    assert (s3["stages_run"], s3["stages_skipped"]) == (1, 1)
    assert {r.w for r in Catalog(spark, root).read("b").collect()} == {20}

    rows = sorted(spark.read.parquet(f"{root}/{MANIFEST}").collect(), key=lambda r: r.seq)
    assert [(r.stage, r.run_id, r.status) for r in rows] == [
        ("a", "r1", "running"), ("a", "r1", "done"),
        ("b", "r1", "running"), ("b", "r1", "done"),
        ("a", "r2", "running"), ("a", "r2", "done"),
        ("b", "r2", "running"),
        ("b", "r3", "running"), ("b", "r3", "done"),
    ]
    assert {s: r.run_id for s, r in latest_rows(rows, "stage").items()} == {
        "a": "r2", "b": "r3",
    }
    # append-only: no commit ever rewrote the manifest table
    assert MANIFEST not in written
