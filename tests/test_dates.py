"""Publish-date cascade goldens (FIXTURES.md §3.5 date spans;
/root/reference/extract/content.go:23-68, spider_test.go:281-286)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import dates


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_cascade_priority(spark):
    # zh-prefixed beats a bare date appearing earlier
    t = "更新于 2021-01-01 … 发布时间: 2022-09-02 11:40:53 完"
    r = _one(spark, dates.extract_publish_date_raw(F.lit(t)))
    assert r.kind == "zh_prefixed" and "2022-09-02 11:40:53" in r.raw

    r = _one(spark, dates.extract_publish_date_raw(F.lit("on 8/30/2022 11:11:11 ok")))
    assert r.kind == "en_us"

    r = _one(spark, dates.extract_publish_date_raw(F.lit("posted 02 Sep 2022 11:40 pm")))
    assert r.kind == "en_dmy"

    r = _one(spark, dates.extract_publish_date_raw(F.lit("Sep 02, 2022 news")))
    assert r.kind == "en_mdy"

    r = _one(spark, dates.extract_publish_date_raw(F.lit("发布于09-02 11:40")))
    assert r.kind == "noyear"

    assert _one(spark, dates.extract_publish_date_raw(F.lit("no dates here"))) is None


def test_zh_date_normalization_and_parse(spark):
    got = _one(spark, dates.normalize_date_string(F.lit("2022年9月2日 11点40分53秒")))
    assert got == "2022-9-2 11:40:53"


def test_sanity_case_spider_test(spark):
    # spider_test.go:282-285 sanity string
    got = _one(spark, dates.normalize_date_string(F.lit("2022-05-26 17:00:57")))
    assert got == "2022-05-26 17:00:57"


def test_zone_and_garbage_tails_dropped(spark):
    got = _one(spark, dates.normalize_date_string(F.lit("2022-05-26 17:00:57+08:00")))
    assert got == "2022-05-26 17:00:57"
    # RegexFormatTime3: bad :NNN tail
    got = _one(spark, dates.normalize_date_string(F.lit("2022-05-26 17:00:573")))
    assert got == "2022-05-26 17:00"


def test_longest_wins(spark):
    t = "a 2022-09-02 b 2022-09-02 11:40:53 c"
    got = _one(spark, dates.longest_date(F.lit(t)))
    assert got.startswith("2022-09-02 11:40:53")
