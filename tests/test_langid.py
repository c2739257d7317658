"""Language-ID cascade threshold goldens (FIXTURES.md §3.2) — strings
engineered to straddle each decision boundary of
/root/reference/lang.go:274-358 and the title path :200-263."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import langid


def _res(spark, body, charset=None, title=None):
    from go_pkg_spider_spark.operators.fused import fused_text_udf

    df = spark.range(1).select(F.lit(body).alias("transcript")).select(
        "transcript",
        langid.lang_cascade(
            F.col("transcript"),
            charset=F.lit(charset) if charset is not None else None,
            title=F.lit(title) if title is not None else None,
        ).alias("lang_res"),
    )
    model_text, marker = langid.model_inputs(F.col("lang_res"))
    df = df.withColumn(
        "fused", fused_text_udf(model_text, marker, F.lit(None).cast("string"))
    ).withColumn(
        "lang_res",
        langid.resolve_model_lang(F.col("lang_res"), F.col("fused")["model_lang"]),
    )
    row = df.collect()[0].lang_res
    return row.lang, row.lang_pos


ZH64 = "汉" * 64
EN_TEXT = (
    "the quick brown fox jumps over the lazy dog and keeps running through the town "
    "with many other words that make this clearly english text for the threshold"
)


def test_too_short_gives_null(spark):
    # <64 chars after cleaning -> no language (lang.go:290-294)
    lang, pos = _res(spark, "short text not enough chars")
    assert lang is None and pos is None


def test_han_rate_above_threshold_zh(spark):
    lang, pos = _res(spark, ZH64)
    assert (lang, pos) == ("zh", "body")


def test_han_rate_below_threshold_falls_through(spark):
    # 20 han + 50 hangul chars -> han rate 0.28 < 0.3 -> lingua(other) -> ko
    body = "汉" * 20 + "한" * 50
    lang, pos = _res(spark, body)
    assert pos == "lingua"
    assert lang in ("ar", "ru", "hi", "ko")  # constrained candidate set


def test_ja_in_han_ratio(spark):
    # han-heavy text with >10% kana among han-count -> ja (lang.go:311)
    body = "漢" * 60 + "かカ" * 4  # ja/han = 8/60 = 0.13 > 0.1
    lang, pos = _res(spark, body)
    assert (lang, pos) == ("ja", "body")
    body2 = "漢" * 60 + "か" * 5  # 5/60 = 0.083 < 0.1 -> zh
    lang2, _ = _res(spark, body2)
    assert lang2 == "zh"


def test_english_rate_branch(spark):
    lang, pos = _res(spark, EN_TEXT)
    assert (lang, pos) == ("en", "body")


def test_latin_supplement_routes_to_model(spark):
    # english-rate text with >5 latin-supplement chars -> model (latin set)
    body = EN_TEXT + " àéîõüçñ"
    lang, pos = _res(spark, body)
    assert pos == "lingua" or lang in ("fr", "de", "es", "pt", "en")


def test_charset_shortcircuit(spark):
    lang, pos = _res(spark, EN_TEXT, charset="GBK")
    assert (lang, pos) == ("zh", "charset")
    lang, pos = _res(spark, EN_TEXT, charset="SHIFT_JIS")
    assert (lang, pos) == ("ja", "charset")


def test_title_zh_rule(spark):
    lang, pos = _res(spark, EN_TEXT, charset="UTF-8", title="中文标题新闻")
    assert (lang, pos) == ("zh", "title")


def test_title_ja_rate(spark):
    # title has han, body >20% kana -> ja via title path (lang.go:237)
    body = ("これはにほんごのぶんしょうです" * 10)
    lang, pos = _res(spark, body, charset="UTF-8", title="日本語新聞")
    assert (lang, pos) == ("ja", "title")


def test_non_utf_charset_skips_body(spark):
    # charset not UTF* and not in map -> no body detection (lang.go:158)
    lang, pos = _res(spark, EN_TEXT, charset="ISO-8859-1")
    assert lang is None


def test_model_resolution_languages(spark):
    cases = {
        "ru": "Быстрая коричневая лиса прыгает через ленивую собаку пока журналисты собирались на месте чтобы подробно осветить историю для проверки",
        "ko": "빠른 갈색 여우가 게으른 개를 뛰어넘고 사람들이 아이들과 함께 걷고 있는 도시의 거리를 달립니다 이것은 테스트 문장입니다 감사합니다",
        "ar": "الثعلب البني السريع يقفز فوق الكلب الكسول ثم يركض في شوارع المدينة حيث يمشي الناس مع أطفالهم وهذا نص للاختبار فقط",
    }
    for want, body in cases.items():
        lang, pos = _res(spark, body)
        assert (lang, pos) == (want, "lingua"), (want, lang)
