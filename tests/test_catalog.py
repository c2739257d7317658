"""Catalog.write partition semantics: a plain partitioned overwrite
replaces the whole table (run_ann_index relies on it), while
replace_partitions replaces exactly the listed partitions — including
listed ones the new data leaves empty. Parquet always; Iceberg when its
runtime is on the classpath. An append writes one data file."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from go_pkg_spider_spark.io.catalog import Catalog, iceberg_available


def _rows(cat, table):
    return sorted((r.p, r.v) for r in cat.read(table).collect())


def test_partitioned_overwrite_replaces_whole_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write(spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string"), "t",
              partition_by=["p"])
    cat.write(spark.createDataFrame([(3, "c")], "p int, v string"), "t", partition_by=["p"])
    assert _rows(cat, "t") == [(3, "c")]


def _check_replace_touches_only_listed(spark, cat):
    cat.write(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "p int, v string"), "t",
              partition_by=["p"], replace_partitions=[1, 2, 3])
    # 2 is listed but gets no rows (cleared); 4 is new; 1 and 3 are kept
    cat.write(spark.createDataFrame([(4, "d")], "p int, v string"), "t",
              partition_by=["p"], replace_partitions=[2, 4])
    assert _rows(cat, "t") == [(1, "a"), (3, "c"), (4, "d")]


def test_replace_partitions_touches_only_listed(spark, tmp_path):
    _check_replace_touches_only_listed(spark, Catalog(spark, str(tmp_path)))


def test_replace_partitions_touches_only_listed_iceberg(spark, tmp_path):
    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime on the classpath")
    confs = {
        "spark.sql.catalog.graft": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.graft.type": "hadoop",
        "spark.sql.catalog.graft.warehouse": str(tmp_path / "warehouse"),
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        cat = Catalog(spark, str(tmp_path))
        assert cat.use_iceberg
        _check_replace_touches_only_listed(spark, cat)
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_replace_partitions_ignores_a_killed_jobs_task_output(spark, tmp_path):
    """A driver killed after some tasks committed leaves their files
    under `<table>/_temporary/0/`. The next replace must not merge them
    into the table."""
    cat = Catalog(spark, str(tmp_path))
    cat.write(spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string"), "t",
              partition_by=["p"], replace_partitions=[1, 2])
    cat.write(spark.createDataFrame([(1, "stale")], "p int, v string"), "killed",
              partition_by=["p"])
    task = tmp_path / "t" / "_temporary" / "0" / "task_202601010000_0001_m_000000" / "p=1"
    os.makedirs(task)
    for f in glob.glob(str(tmp_path / "killed" / "p=1" / "*.parquet")):
        shutil.copy(f, task)
    cat.write(spark.createDataFrame([(1, "new")], "p int, v string"), "t",
              partition_by=["p"], replace_partitions=[1])
    assert _rows(cat, "t") == [(1, "new"), (2, "b")]


def test_replace_partitions_needs_one_partition_column(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "p int, v string")
    with pytest.raises(ValueError, match="exactly one partition_by"):
        cat.write(df, "t", replace_partitions=[1])


def test_an_append_writes_one_data_file(spark, tmp_path):
    """A manifest append is a few-row local relation spread over up to
    one partition per core; it still lands as one parquet file, so a
    manifest read opens one file per append, not one per row."""
    from go_pkg_spider_spark.io.manifest import MANIFEST_SCHEMA, append_rows

    cat = Catalog(spark, str(tmp_path))
    rows = [{"bucket": b, "status": "running", "run_id": "r"} for b in range(2)]
    append_rows(cat, "m", MANIFEST_SCHEMA, rows)
    assert len(glob.glob(str(tmp_path / "m" / "*.parquet"))) == 1
    append_rows(cat, "m", MANIFEST_SCHEMA, rows)
    assert len(glob.glob(str(tmp_path / "m" / "*.parquet"))) == 2
    assert sorted(r.bucket for r in cat.read("m").collect()) == [0, 0, 1, 1]
