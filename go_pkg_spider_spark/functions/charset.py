"""Charset normalization + charset→language lookup as column expressions.

Re-expresses:
- convertCharset alias normalization (/root/reference/charset.go:196-222)
- CharsetLangMap lookup (/root/reference/lang.go:27-38, used at
  lang.go:132-139) — the J1 broadcast-map join of SURVEY.md §2.3.
- charset declaration regexes (/root/reference/charset.go:21-23) for
  payloads that carry an embedded declaration.

All pure `F.when` chains / map literals — zero shuffles, zero UDFs.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, functions as F

# /root/reference/lang.go:27-38
CHARSET_LANG_MAP: dict[str, str] = {
    "GBK": "zh",
    "Big5": "zh",
    "ISO-2022-CN": "zh",
    "SHIFT_JIS": "ja",
    "KOI8-R": "ru",
    "EUC-JP": "ja",
    "EUC-KR": "ko",
    "EUC-CN": "zh",
    "ISO-2022-JP": "ja",
    "ISO-2022-KR": "ko",
}

# charset provenance enum (/root/reference/charset.go:13-18); "html"
# comes only from the byte sniffer (charset_bytes)
POS_HEADER = "header"
POS_VALID = "valid"


def convert_charset(col: Column) -> Column:
    """convertCharset (/root/reference/charset.go:196-222): upper+trim,
    then alias folding UTF8/UTF_8→UTF-8, GB*→GBK, BIG5*→Big5,
    SHIFT*→SHIFT_JIS. Empty stays empty."""
    c = F.upper(F.trim(col))
    return (
        F.when(c.isin("UTF8", "UTF_8"), "UTF-8")
        .when(c.startswith("GB"), "GBK")
        .when(c.startswith("BIG5"), "Big5")
        .when(c.startswith("SHIFT"), "SHIFT_JIS")
        .otherwise(c)
    )


def charset_lang(charset: Column) -> Column:
    """CharsetLangMap[charset] (/root/reference/lang.go:132-139): exact
    match on the canonical charset; NULL when absent (cascade falls
    through). Map-literal lookup — Catalyst folds it to a constant map."""
    m = F.create_map(*[F.lit(x) for x in chain.from_iterable(CHARSET_LANG_MAP.items())])
    return m[charset]


def extract_declared_charset(text: Column) -> Column:
    """RegexCharset `charset=<name>` extraction
    (/root/reference/charset.go:21, applied to headers at :80-101 and to
    html via the HTML4/HTML5 meta patterns at :112-180). For transcript
    payloads this reads any embedded `charset=` declaration; returns the
    raw (un-normalized) name or '' when absent."""
    return F.regexp_extract(text, r"""(?i)charset\s*=\s*["']?([a-z][_\-0-9a-z]*)""", 1)


def charset_of(declared_codec: Column, transcript_valid_utf8: Column) -> Column:
    """The Charset() decision for our payload (/root/reference/charset.go:38-76):
    valid UTF-8 short-circuits everything ('valid' provenance); otherwise
    normalize the declared codec ('header' provenance ≙ the Content-Type
    path). Returns struct(charset, charset_pos)."""
    canon = convert_charset(declared_codec)
    return F.when(
        transcript_valid_utf8,
        F.struct(F.lit("UTF-8").alias("charset"), F.lit(POS_VALID).alias("charset_pos")),
    ).otherwise(
        F.struct(canon.alias("charset"), F.lit(POS_HEADER).alias("charset_pos"))
    )
