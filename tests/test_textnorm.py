"""Normalization + title-clean goldens (FIXTURES.md §3.6/§3.7),
re-targeted from /root/reference/extract/web_test.go:13-24 and the
Unicode-dialect pinning cases (/root/reference/lang.go:109-114)."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pkg_spider_spark.functions import textnorm as tn


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_remove_sign(spark):
    assert _one(spark, tn.remove_sign(F.lit("a,b.c！？（）x$y"))) == "abcxy"


def test_normalise_space(spark):
    assert _one(spark, tn.normalise_space(F.lit("  a\t\tb \n c  "))) == "a b c"


def test_unicode_class_counts(spark):
    # mixed zh/ja/punct string pinning all dialect classes
    # (/root/reference/spider_test.go:44-50 analog)
    s = F.lit("汉字abcカタかな한글ä，。!?")
    assert _one(spark, tn.char_count(s, tn.JAVA_HAN)) == 2
    assert _one(spark, tn.char_count(s, tn.JAVA_KANA)) == 4
    assert _one(spark, tn.char_count(s, tn.JAVA_HANGUL)) == 2
    assert _one(spark, tn.char_count(s, tn.ASCII_ALPHA)) == 3
    assert _one(spark, tn.char_count(s, tn.LATIN_SUPPLEMENT)) == 1
    assert _one(spark, tn.char_count(s, tn.JAVA_PUNCT_SYM)) == 4


def test_title_clean_zh_suffix(spark):
    # web_test.go:13-24 goldens
    cases = {
        "“暴徒试图杀死他！”但他在人群的愤怒中幸存_网易订阅": "暴徒试图杀死他但他在人群的愤怒中幸存",
        "“暴徒试图杀死他！”但他在人群的愤怒中幸存 - 网易订阅": "暴徒试图杀死他但他在人群的愤怒中幸存",
        # ℃ is \pS — RemoveSign strips it (fun.RemoveSign ≙ [\pP\pS])
        "北极圈内最高温达38℃创历史新高_科技频道_中国青年网": "北极圈内最高温达38创历史新高",
    }
    for raw, want in cases.items():
        got = _one(spark, tn.web_title_clean(F.lit(raw), F.lit("zh")))
        assert got == want, (raw, got, want)


def test_title_clean_en_last_split(spark):
    raw = "About the Project - Some Detail - Center for Strategic Studies"
    got = _one(spark, tn.web_title_clean(F.lit(raw), F.lit("en")))
    # en branch cuts ONCE at the LAST occurrence (web.go:137-146)
    assert got == "About the Project - Some Detail"


def test_title_clean_en_no_split(spark):
    assert _one(spark, tn.web_title_clean(F.lit("Plain Title"), F.lit("en"))) == "Plain Title"


def test_clean_for_lang_chain_order(spark):
    # newline->space, tabs dropped, double-space removed ENTIRELY (the Go
    # chain does ReplaceAll("  ","") — joins the neighbors), punct stripped
    got = _one(spark, tn.clean_for_lang(F.lit("a,b\nc\td  e!")))
    assert got == "ab cde"


def test_truncations(spark):
    assert _one(spark, tn.truncate_title(F.lit("x" * 300))) == "x" * 128
