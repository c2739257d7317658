from __future__ import annotations

import os

import pytest

from go_pkg_spider_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_path(tmp_path_factory):
    from go_pkg_spider_spark import datagen

    p = tmp_path_factory.mktemp("clips") / "clips.parquet"
    datagen.write_clips_parquet(str(p), 300)
    return str(p)


@pytest.fixture
def jobs_of(spark):
    """jobs_of(fn) -> (fn(), the number of Spark jobs fn started),
    counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def stage_reads(monkeypatch, jobs_of):
    """Records every StageRunner the jobs build while the test runs.
    Call the returned function after the jobs: for each stage of each
    recorded runner's manifest, `runner.read(stage)` must start no
    Spark job and have the schema Spark infers from the table's files.
    It returns the (manifest, stage) pairs it checked."""
    from go_pkg_spider_spark.io import stages
    from go_pkg_spider_spark.io.manifest import latest_rows, read_manifest

    runners = []

    class Recording(stages.StageRunner):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            runners.append(self)

    monkeypatch.setattr(stages, "StageRunner", Recording)

    def check():
        checked = []
        for r in runners:
            rows = read_manifest(r.cat, r.manifest_table, stages.STAGE_MANIFEST_SCHEMA)
            for stage in latest_rows(rows, "stage"):
                df, jobs = jobs_of(lambda: r.read(stage))
                assert jobs == 0, stage
                inferred = r.spark.read.parquet(os.path.join(r.cat.root, stage))
                assert df.schema == inferred.schema, stage
                checked.append((r.manifest_table, stage))
        return checked

    return check
