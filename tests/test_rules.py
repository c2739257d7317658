"""Keep/drop + classification goldens (FIXTURES.md §3.3) against
/root/reference/extract/link.go:276-364 and lang.go:373-375."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import rules


def _classify(spark, title, lang):
    return spark.range(1).select(
        rules.classify_title(F.lit(title), F.lit(lang)).alias("t")
    ).collect()[0].t


def _keep(spark, text, lang):
    r = spark.range(1).select(rules.keep_drop(F.lit(text), F.lit(lang)).alias("r")).collect()[0].r
    return r.keep, r.drop_reason


def test_zh_content_long_title(spark):
    # han>5 and len>=8 -> content (link.go:302-307)
    assert _classify(spark, "今天发生了一件重要的新闻事件报道", "zh") == "content"


def test_zh_short_with_punct(spark):
    # han>5, len<8 impossible (han>5 implies len>5); craft han=6 len=7
    assert _classify(spark, "新闻快报当日，", "zh") == "content"  # 7 chars with punct
    assert _classify(spark, "新闻快报当日情", "zh") == "unknown"  # 7 chars no punct


def test_zh_few_han_is_list(spark):
    assert _classify(spark, "新闻", "zh") == "list"  # 0<han<=5 (link.go:321)


def test_zh_no_han_dict(spark):
    assert _classify(spark, "NBA", "zh") == "list"  # in zhEnTitles (link.go:330)
    assert _classify(spark, "xyz", "zh") == "none"


def test_word_lang_five_words(spark):
    assert _classify(spark, "five words are needed here now", "en") == "content"
    assert _classify(spark, "too few words", "en") == "list"
    assert _classify(spark, "历史", "en") == "none"  # no ascii letters


def test_other_lang_eight_chars(spark):
    assert _classify(spark, "สวัสดีชาวโลกทดสอบ", "th") == "content"
    assert _classify(spark, "สวัสดี", "th") == "list"


def test_licence_boilerplate_dropped(spark):
    text = "本网站持有信息服务许可证编号如下" + "内容文字" * 20
    keep, reason = _keep(spark, text, "zh")
    assert not keep and reason == "licence_boilerplate"


def test_dynamic_render_junk(spark):
    text = '{a}{b}{c}{d}{e} x {f} y {g} z {h} {i} {j}' + "pad" * 30
    keep, reason = _keep(spark, text, "en")
    assert not keep and reason == "dynamic_render_junk"


def test_too_short(spark):
    keep, reason = _keep(spark, "tiny", "en")
    assert not keep and reason == "too_short"


def test_keep_good_en(spark):
    text = (
        "this is a perfectly reasonable english transcript with many words and enough "
        "length to pass every rule in the chain without trouble at all"
    )
    keep, reason = _keep(spark, text, "en")
    assert keep and reason is None


def test_url_filter_cascade(spark):
    cases = {
        "http://www.163.com/a/b/c.html": None,
        "http://site.com/file.pdf": "invalid url with suffix",
        "http://1.2.3.4/x/y": "invalid url with ip hostname",
        "http://site.com:8080/a": "invalid url with not 80 port",
        "ftp://site.com/a": "invalid url with not absolute url",
        'http://site.com/a"b': "invalid url with illegal characters",
        "/relative/path": "invalid url with not absolute url",
    }
    for url, want in cases.items():
        got = spark.range(1).select(
            rules.url_filter_reason(F.lit(url)).alias("r")
        ).collect()[0].r
        assert got == want, (url, got, want)


def test_publish_date_path(spark):
    got = spark.range(1).select(
        rules.has_publish_date_path(F.lit("/news/2022-10-03")).alias("a"),
        rules.has_publish_date_path(F.lit("/news/archive")).alias("b"),
        rules.is_index_path(F.lit("/index.html")).alias("c"),
        rules.is_index_path(F.lit("/a/b")).alias("d"),
    ).collect()[0]
    assert got.a and not got.b and got.c and not got.d
