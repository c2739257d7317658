"""Exact-match scrub goldens (FIXTURES.md §3.5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import scrub


def _scrub(spark, text):
    return spark.range(1).select(scrub.scrub(F.lit(text)).alias("s")).collect()[0].s


def test_icp_scrub(spark):
    assert _scrub(spark, "备案号粤ICP备17055554号完") == "备案号[ICP]完"
    assert _scrub(spark, "京公网安备31010402001073号x") == "[ICP]x"
    assert _scrub(spark, "证书粤B2-20090059在此") == "证书[ICP]在此"


def test_icp_combined_string(spark):
    # icp_test.go: "鲁ICP备05002386鲁公网安备37070502000027号"
    got = _scrub(spark, "鲁ICP备05002386鲁公网安备37070502000027号")
    assert got == "[ICP]鲁公网安备37070502000027号".replace("鲁公网安备37070502000027号", "[ICP]")


def test_date_scrub(spark):
    assert _scrub(spark, "time 2022-05-26 17:00:57 UTC end") == "time [DATE] end"
    assert _scrub(spark, "发布时间: 2022-09-02 11:40:53 完") == "[DATE] 完"
    assert _scrub(spark, "on 8/30/2022 11:11:11 ok") == "on [DATE] ok"
    assert _scrub(spark, "2023年5月12日 下午") == "[DATE] 下午"


def test_email_phone_url(spark):
    assert _scrub(spark, "mail a@b.com now") == "mail [EMAIL] now"
    assert _scrub(spark, "call +1 555 123 4567 ok") == "call [PHONE] ok"
    assert _scrub(spark, "tel 13812345678 ok") == "tel [PHONE] ok"
    assert _scrub(spark, "get https://x.com/a.exe here") == "get [URL] here"


def test_new_pii_classes(spark):
    assert _scrub(spark, "身份证110101199003077578完") == "身份证[ID]完"
    assert _scrub(spark, "pay 4111 1111 1111 1111 now") == "pay [CARD] now"
    assert _scrub(spark, "host 192.168.10.1 down") == "host [IP] down"
    # IP inside a URL scrubs as one URL token
    assert _scrub(spark, "see http://1.2.3.4/x ok") == "see [URL] ok"
    # version strings (two dots only) survive
    assert _scrub(spark, "spark 4.1.2 release") == "spark 4.1.2 release"


def test_scrub_null_safe(spark):
    got = spark.sql("select cast(null as string) t").select(
        scrub.scrub(F.col("t")).alias("s")
    ).collect()[0].s
    assert got is None


def test_scrub_oracle_sql_matches(spark):
    """The DuckDB twin of the bank must produce identical output on the
    golden strings (dialect-parity pin)."""
    import duckdb

    goldens = [
        "备案号粤ICP备17055554号完",
        "time 2022-05-26 17:00:57 UTC end",
        "发布时间: 2022-09-02 11:40:53 完",
        "mail a@b.com now",
        "call +1 555 123 4567 ok",
        "tel 13812345678 ok",
        "get https://x.com/a.exe here",
        "on 8/30/2022 11:11:11 ok",
        "身份证110101199003077578完",
        "pay 4111 1111 1111 1111 now",
        "host 192.168.10.1 down",
    ]
    expr = scrub.oracle_scrub_sql("t")
    for g in goldens:
        spark_out = _scrub(spark, g)
        duck_out = duckdb.sql(
            f"select {expr} as s from (select ? as t)", params=[g]
        ).fetchone()[0]
        assert spark_out == duck_out, (g, spark_out, duck_out)
