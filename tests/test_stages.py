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


def test_done_rows_count_the_committed_tables(spark, tmp_path):
    """The done row's `rows` comes from the write itself; it must equal
    a count of the table on disk, also for a stage that comes out
    empty."""
    cat = Catalog(spark, str(tmp_path / "counted"))
    runner = StageRunner(spark, cat, MANIFEST, {"chain": 1}, "r1")
    runner.commit("full", spark.range(37).repartition(5))
    runner.commit("empty", spark.range(10).filter(F.col("id") > 100))
    runner.commit(
        "parted", spark.range(23).withColumn("p", F.col("id") % 3), partition_by=["p"]
    )
    rows = spark.read.parquet(str(tmp_path / "counted" / MANIFEST)).collect()
    done = {r.stage: r.rows for r in rows if r.status == "done"}
    assert done == {s: cat.read(s).count() for s in ("full", "empty", "parted")}
    assert done == {"full": 37, "empty": 0, "parted": 23}
    assert runner.summary["stage_rows"] == done


def test_histogram_is_counted_during_the_write_and_resumed(spark, tmp_path):
    """A histogram stage's counts come from its own write and equal a
    groupBy over the table, zero counts left out; a resumed run
    reports them from the done row, also the empty histogram of an
    empty stage."""
    cat = Catalog(spark, str(tmp_path / "hist"))
    vocab = ("a", "b", "c")

    def run(run_id):
        runner = StageRunner(
            spark, cat, MANIFEST, {"chain": 1}, run_id,
            histograms={"h": ("v", vocab), "empty": ("v", vocab)},
        )
        if not runner.resumable("h"):
            v = F.when(F.col("id") < 3, "a").otherwise("c").alias("v")
            runner.commit("h", spark.range(10).select(v))
        if not runner.resumable("empty"):
            runner.commit("empty", cat.read("h").filter(F.col("v") == "b"))
        return runner

    first = run("r1")
    grouped = {r.v: r["count"] for r in cat.read("h").groupBy("v").count().collect()}
    assert first.histogram("h") == grouped == {"a": 3, "c": 7}
    assert first.histogram("empty") == {}
    again = run("r2")
    assert (again.summary["stages_run"], again.summary["stages_skipped"]) == (0, 2)
    assert again.histogram("h") == grouped and again.histogram("empty") == {}


def test_operator_observation_of_an_empty_subtree_records_zeros(spark, tmp_path):
    """When the observed subtree produces no rows, AQE's empty-relation
    propagation removes its CollectMetrics node and the Observation has
    no row to return; commit records each of its metrics as "0"."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    obs = Observation()
    buckets = (
        spark.range(50)
        .filter(F.col("id") > 100)
        .groupBy(F.col("id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .observe(
            obs,
            F.sum("n").alias("dropped_members"),
            F.max("n").alias("max_bucket_members"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )
    pairs = buckets.join(spark.range(50).withColumnRenamed("id", "k"), "k")
    runner = StageRunner(spark, Catalog(spark, str(tmp_path / "aqe")), MANIFEST, {"chain": 1}, "r1")
    runner.commit("pairs", pairs, metrics={"tier": "t"}, observation=obs)
    with pytest.raises(Py4JJavaError):
        obs.get  # the node was removed, so commit took the fallback
    m = runner.summary["metrics"]["pairs"]
    assert m == {
        "dropped_members": "0",
        "max_bucket_members": "0",
        "n_buckets": "0",
        "tier": "t",
        "params_sig": m["params_sig"],
    }
    assert runner.summary["stage_rows"] == {"pairs": 0}
