"""Byte-level charset detection goldens (FIXTURES.md §3.1), covering
the CharsetLangMap encodings (/root/reference/lang.go:27-38) and the
Charset() decision order (/root/reference/charset.go:38-101)."""

from __future__ import annotations

from go_pkg_spider_spark.functions.charset_bytes import (
    convert_charset_py,
    sniff_charset,
    sniff_charset_udf,
)

ZH = "今天的新闻内容非常丰富记者在现场进行了详细的报道"
ZH_TRAD = "今天的新聞內容非常豐富記者在現場進行了詳細的報道"  # Big5-encodable
JA = "今日のニュースはとても面白かったですありがとうございます"
KO = "오늘 서울에서는 많은 사람들이 공원을 방문했습니다"
RU = "быстрая коричневая лиса прыгает через ленивую собаку"


def test_utf8_fast_path():
    cs, pos, text = sniff_charset(ZH.encode("utf-8"))
    assert (cs, pos) == ("UTF-8", "valid") and text == ZH


def test_guess_cjk_encodings():
    cases = [
        (ZH.encode("gb18030"), "GBK", ZH),
        (ZH_TRAD.encode("big5"), "Big5", ZH_TRAD),
        (JA.encode("shift_jis"), "SHIFT_JIS", JA),
        (KO.encode("euc_kr"), "EUC-KR", KO),
        (RU.encode("koi8_r"), "KOI8-R", RU),
    ]
    for raw, want_cs, want_text in cases:
        cs, pos, text = sniff_charset(raw)
        assert cs == want_cs, (want_cs, cs)
        assert pos == "guess"
        assert text == want_text


def test_declared_header_wins_over_guess():
    cs, pos, _ = sniff_charset(ZH.encode("gb18030"), declared="gb2312")
    assert (cs, pos) == ("GBK", "header")


def test_embedded_html_declaration():
    body = b'<html><meta charset="gb2312"><body>' + ZH.encode("gb18030")
    cs, pos, _ = sniff_charset(body)
    assert (cs, pos) == ("GBK", "html")
    # html4 shape
    body4 = (
        b'<meta http-equiv="Content-Type" content="text/html; charset=big5">'
        + ZH_TRAD.encode("big5")
    )
    cs, pos, _ = sniff_charset(body4)
    assert (cs, pos) == ("Big5", "html")


def test_alias_normalization():
    for raw, want in [
        ("utf8", "UTF-8"), ("UTF_8", "UTF-8"), ("gb2312", "GBK"),
        ("gb18030", "GBK"), ("big5-hkscs", "Big5"), ("shift-jis", "SHIFT_JIS"),
        ("EUC-KR", "EUC-KR"), ("", ""),
    ]:
        assert convert_charset_py(raw) == want, raw


def test_conflict_body_vs_header():
    # header says ISO-8859-1, body declares GBK -> body (html) wins
    # (charset.go:97-101 body-priority)
    body = b'<meta charset="gbk">' + ZH.encode("gb18030")
    cs, pos, _ = sniff_charset(body, declared="ISO-8859-1")
    assert (cs, pos) == ("GBK", "html")


def test_sniff_udf_in_spark(spark):
    rows = [
        (ZH.encode("utf-8"), None),
        (ZH.encode("gb18030"), "gb2312"),
        (JA.encode("shift_jis"), None),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "data binary, declared string")
    out = df.select(sniff_charset_udf("data", "declared").alias("r")).collect()
    assert (out[0].r.charset, out[0].r.charset_pos) == ("UTF-8", "valid")
    assert (out[1].r.charset, out[1].r.charset_pos) == ("GBK", "header")
    assert out[2].r.charset == "SHIFT_JIS"
    assert out[3].r.charset == ""


def test_header_wins_over_html_when_not_iso():
    """CharsetFromHeaderHtml (charset.go:88-106): when header and html
    declarations differ and the header is NOT ISO/WINDOWS, the header
    wins (previously html won unconditionally)."""
    body = b'<meta charset="big5">' + ZH.encode("gb18030")
    cs, pos, text = sniff_charset(body, declared="gb2312")
    assert (cs, pos) == ("GBK", "header")
    assert ZH in (text or "")


def test_utf16_bom_payload_decodes():
    """UTF-16 guesses must produce decoded_text (the codec entry was
    missing -> always NULL)."""
    data = b"\xff\xfe" + "中文 utf16 内容".encode("utf-16-le")
    cs, pos, text = sniff_charset(data)
    assert (cs, pos) == ("UTF-16", "guess")
    assert "中文" in (text or "")


def test_sniff_charset_fuzz_never_raises():
    """Fuzz contract (the round-8 decoder-fuzz sweep applied to the
    last per-row Python surface): sniff_charset over byte soup +
    arbitrary declared-charset strings must always return the 3-tuple,
    never raise — it runs inside an Arrow UDF whose task dies on any
    exception."""
    from hypothesis import given, settings, strategies as st

    from go_pkg_spider_spark.functions.charset_bytes import sniff_charset

    @settings(max_examples=250, deadline=None)
    @given(
        data=st.none() | st.binary(max_size=512),
        declared=st.none() | st.text(max_size=24),
    )
    def prop(data, declared):
        cs, pos, text = sniff_charset(data, declared)
        assert isinstance(cs, str) and isinstance(pos, str)
        assert text is None or isinstance(text, str)

    prop()
