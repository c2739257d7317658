"""run_pipeline builds its Columns once per SparkContext, and the plan
evaluates each per-row regex once.

The codegen and context-restart facts need a JVM of their own (the
generated-method histogram is JVM-wide, and the restart stops the
context), so one child process collects them for the tests below."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
from go_pkg_spider_spark import datagen, pipeline
from go_pkg_spider_spark.session import get_spark

path = sys.argv[1]
datagen.write_clips_parquet(path, 120)

def session():
    s = get_spark(app_name="build-test", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "2g"})
    s.sparkContext.setLogLevel("WARN")
    return s

spark = session()
out = pipeline.run_pipeline(spark.read.parquet(path))
first = sorted(map(tuple, out.collect()))
plan = out._jdf.queryExecution().optimizedPlan().toString()
hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
res = {
    "regexp_replace": plan.count("regexp_replace("),
    "regexp_extract_all": plan.count("regexp_extract_all("),
    "max_method_bytes": hist.getSnapshot().getMax(),
}
spark.stop()
spark = session()
misses = pipeline._plan.cache_info().misses
second = sorted(map(tuple, pipeline.run_pipeline(spark.read.parquet(path)).collect()))
res["rebuilt"] = pipeline._plan.cache_info().misses == misses + 1
res["rows_equal"] = first == second
res["rows"] = len(second)
spark.stop()
print(json.dumps(res))
"""


@pytest.fixture(scope="module")
def fresh_jvm(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("build") / "clips.parquet")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, path], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["stderr"] = proc.stderr
    return res


def test_plan_evaluates_each_regex_once(fresh_jvm):
    # the bound clean_for_lang chain (4), strip_markup (2), the scrub
    # bank (13) and classify_title's bound no-space and no-punct titles
    # (2); the four body-rule counts, classify_title's bound han (1) and
    # ascii (1) counts, punct_ratio (1). Before the bindings: 168 and 31.
    assert (fresh_jvm["regexp_replace"], fresh_jvm["regexp_extract_all"]) == (21, 7)


def test_largest_generated_method_under_32k(fresh_jvm):
    # 58,551 B before the binding, against the JVM's 64 KiB limit
    assert 0 < fresh_jvm["max_method_bytes"] < 32 * 1024


def test_new_context_rebuilds_columns(fresh_jvm):
    assert fresh_jvm["rows"] == 120
    assert fresh_jvm["rebuilt"] and fresh_jvm["rows_equal"]
    assert "Failed to update accumulator" not in fresh_jvm["stderr"]


def test_warm_build_makes_few_py4j_calls(spark, clips_path, monkeypatch):
    from go_pkg_spider_spark import pipeline

    clips = spark.read.parquet(clips_path)
    pipeline.run_pipeline(clips)
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    pipeline.run_pipeline(clips)
    monkeypatch.undo()
    # building the Columns anew made ~3,900 calls
    assert 0 < len(calls) < 200
